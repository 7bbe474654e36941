package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Num._

/** Advanced relational operators (SURVEY.md §2.4): as-of join, range join,
  * approximate distinct, scalar subquery, correlated aggregate, pivot.
  * Each declarative, shuffle-minimal, and oracle-checked where the
  * semantics are engine-portable.
  */
object Analytics {

  /** q17 — as-of join (event ↔ nearest prior reading, SURVEY.md §2.4 joins
    * row): for each error event, the most recent prior click of the same
    * user. Implemented as the union-free single-pass window form: tag click
    * columns, `last(..., ignoreNulls)` over the per-user time order — one
    * shuffle on user_id, no join at all (the classic scalable as-of plan;
    * a sort-merge as-of join would shuffle both sides the same way). */
  def q17AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"ts", $"value")
      .withColumn("last_click_value",
        last(when($"event_type" === "click", $"value"), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when($"event_type" === "click", $"ts"), ignoreNulls = true).over(w))
      .filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts", $"value", $"last_click_ts", $"last_click_value")
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val q17Sql: String =
    """SELECT event_id, user_id, ts, value, last_click_ts, last_click_value FROM (
         SELECT event_id, user_id, event_type, ts, value,
           last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS) OVER w AS last_click_value,
           last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER w AS last_click_ts
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) t
       WHERE event_type = 'error'
       ORDER BY user_id, ts, event_id"""

  /** q18 — range (band) join: lineitem prices bucketed against a literal
    * band dimension via interval containment. The band table is broadcast,
    * so the fact side never shuffles for the join. */
  def q18RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = s.createDataFrame(Seq(
      ("low", 0.0, 20000.0),
      ("mid", 20000.0, 50000.0),
      ("high", 50000.0, 1e18))).toDF("band", "lo", "hi")
    Tables.lineitem(s, dir).select($"l_extendedprice", $"l_quantity")
      .join(broadcast(bands), $"l_extendedprice" >= $"lo" && $"l_extendedprice" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n_lines"),
        rsum($"l_extendedprice", 2).as("sum_price"),
        ravg($"l_quantity", 4).as("avg_qty"))
      .orderBy($"band")
  }

  val q18Sql: String =
    s"""SELECT band, count(*) AS n_lines,
       ${rsumSql("l_extendedprice", 2)} AS sum_price,
       ${ravgSql("l_quantity", 4)} AS avg_qty
       FROM lineitem
       JOIN (VALUES ('low', 0.0, 20000.0), ('mid', 20000.0, 50000.0),
                    ('high', 50000.0, 1e18)) b(band, lo, hi)
         ON l_extendedprice >= lo AND l_extendedprice < hi
       GROUP BY band
       ORDER BY band"""

  /** q19 — approximate distinct (HLL++): the 100 TB replacement for q16's
    * exact expand-based distinct. Sketch internals aren't portable to
    * DuckDB → rows-only + AnalyticsSpec asserting relative error. */
  def q19ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(
        countDistinct($"o_custkey").as("exact_customers"),
        approx_count_distinct($"o_custkey", 0.02).as("approx_customers"))
      .orderBy($"o_orderpriority")
  }

  /** q39 — sampled percentiles: the PORTABLE approximate-percentile scale
    * path (q37's GK sketch with engine-specific internals stays rows-only;
    * this twin is hash-checked). A deterministic ~5% md5-rank sample —
    * scan-local, no shuffle, identical rows selected in both engines —
    * feeds q33's exact interpolated percentiles, shrinking the per-group
    * sort from n to n/20. Rank error is O(1/√(n·rate)) (AnalyticsSpec
    * bounds it against the exact q33 values); at 100 TB the sample rate is
    * the knob that trades accuracy for sort size. NOTE: exact `percentile`
    * buffers the sampled values per group in executor memory — per-group
    * memory grows with n·rate, so the rate must shrink as data grows; the
    * constant-memory path at any rate is q37's GK sketch. */
  def q39SampledPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter(DedupLsh.h60(concat_ws(":", $"l_orderkey", $"l_linenumber")) % 20 === 0)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sample"),
        r(percentile($"l_extendedprice", lit(0.5)), 6).as("price_p50"),
        r(percentile($"l_extendedprice", lit(0.9)), 6).as("price_p90"),
        r(percentile($"l_extendedprice", lit(0.99)), 6).as("price_p99"))
      .orderBy($"l_returnflag")
  }

  val q39Sql: String =
    s"""SELECT l_returnflag, count(*) AS n_sample,
       ${rSql("quantile_cont(l_extendedprice, 0.5)", 6)} AS price_p50,
       ${rSql("quantile_cont(l_extendedprice, 0.9)", 6)} AS price_p90,
       ${rSql("quantile_cont(l_extendedprice, 0.99)", 6)} AS price_p99
       FROM lineitem
       WHERE ${DedupLsh.h60Sql("l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR")} % 20 = 0
       GROUP BY l_returnflag
       ORDER BY l_returnflag"""

  // --- q40: a PORTABLE HyperLogLog — the sketch the oracle can check ----

  private val HllM = 256 // registers (b = 8); std error 1.04/√m ≈ 6.5%

  /** α_m·m²·2⁵³ — the raw-estimator numerator, precomputed to one double
    * so both engines see a single literal (E_raw = const / S where S is
    * the exact integer Σ 2^(53−M_j) scaled by 2⁵³). */
  private val HllConst: Double =
    0.7213 / (1 + 1.079 / HllM) * HllM * HllM * 9007199254740992.0

  /** q40 — approximate distinct via a portable HyperLogLog: q19's
    * approx_count_distinct uses Spark-private xxhash64 sketch internals
    * (→ rows-only forever); this twin builds the SAME kind of sketch from
    * engine-portable pieces — md5-rank hash (d04-proven), register index =
    * low 8 bits, ρ = leading-zero count of the remaining 52 bits via an
    * integer CASE cascade, registers = max(ρ) — so the whole sketch,
    * including the linear-counting small-range branch, mirrors in DuckDB
    * and the oracle hash-checks it. Register state is 256 ints per group,
    * merged map-side by max — the identical 100 TB layout HLL++ uses.
    * Σ 2^(−M) is computed as the exact integer Σ 2^(53−M) (max 256·2⁵³ <
    * 2⁶³), so the only float ops are one division and the ln() of the
    * linear-counting branch (d08-proven portable at r6; r2 here). */
  /** ρ of a 60-bit h60 hash under the q40 register layout (register =
    * low 8 bits, ρ = leading-zero rank of the remaining 52) — shared by
    * q40's grouped sketch and q82's day-windowed register tables. */
  private def hllRho(h: Column): Column = {
    val w = shiftright(h, 8)
    (50 to 0 by -1)
      .foldLeft(when(w >= lit(1L << 51), lit(1)))((acc, k) =>
        acc.when(w >= lit(1L << k), lit(52 - k)))
      .otherwise(lit(53))
  }

  /** SQL twin of [[hllRho]] over a column named `hv`. */
  private val hllRhoSql: String = (51 to 0 by -1)
    .map(k => s"WHEN (hv >> 8) >= ${1L << k} THEN ${52 - k}")
    .mkString("CASE ", " ", " ELSE 53 END")

  def q40PortableHll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
    val h = DedupLsh.h60($"o_custkey".cast("string"))
    val rho = hllRho(h)
    val s1 = ord
      .select($"o_orderpriority", (h % 256).as("idx"), rho.as("rho"))
      .groupBy($"o_orderpriority", $"idx").agg(max($"rho").as("mx"))
      .groupBy($"o_orderpriority")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mx)")).as("sp"),
        count(lit(1)).as("nreg"))
      .select($"o_orderpriority",
        ($"sp" + (lit(HllM.toLong) - $"nreg") * lit(9007199254740992L)).as("s"),
        (lit(HllM.toLong) - $"nreg").as("v"))
    val raw = lit(HllConst) / $"s".cast("double")
    val est = when($"v" > 0 && raw <= lit(2.5 * HllM),
        lit(HllM.toDouble) * log(lit(HllM.toDouble) / $"v".cast("double")))
      .otherwise(raw)
    val exact = ord.groupBy($"o_orderpriority")
      .agg(countDistinct($"o_custkey").as("exact_customers"))
    exact.join(s1, "o_orderpriority")
      .select($"o_orderpriority", $"exact_customers", r(est, 2).as("hll_customers"))
      .orderBy($"o_orderpriority")
  }

  val q40Sql: String = {
    val rho = hllRhoSql
    val raw = s"$HllConst / CAST(s AS DOUBLE)"
    s"""WITH h AS (SELECT o_orderpriority,
           ${DedupLsh.h60Sql("o_custkey::VARCHAR")} AS hv FROM orders),
       reg AS (SELECT o_orderpriority, hv % 256 AS idx, max($rho) AS mx
         FROM h GROUP BY o_orderpriority, hv % 256),
       sk AS (SELECT o_orderpriority,
           CAST(sum(1::BIGINT << (53 - mx)) AS BIGINT)
             + ($HllM - count(*)) * 9007199254740992 AS s,
           $HllM - count(*) AS v
         FROM reg GROUP BY o_orderpriority),
       ex AS (SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_customers
         FROM orders GROUP BY o_orderpriority)
       SELECT ex.o_orderpriority, exact_customers,
         ${rSql(s"CASE WHEN v > 0 AND $raw <= ${2.5 * HllM} THEN ${HllM.toDouble} * ln(${HllM.toDouble} / CAST(v AS DOUBLE)) ELSE $raw END", 2)} AS hll_customers
       FROM ex JOIN sk USING (o_orderpriority)
       ORDER BY ex.o_orderpriority"""
  }

  // --- q82: trailing-MAU from mergeable daily HLL registers ------------------

  /** q82 — approximate trailing-28-day MAU per day from DAILY HLL
    * register tables merged across the window (q74 computes the exact
    * number by fanning every (user, day) ×28 — the right call at this
    * scale; q82 is the sketch path a 100 TB event lake actually deploys:
    * registers are built ONCE per day (mergeable, 256 ints — the
    * reason HLL exists), and every trailing window is a register-wise
    * MAX over the day axis, never re-touching events). Absent registers
    * zero-fill on a dense (days × 256) grid so the RANGE-window merge
    * sees every register every day; estimator and linear-counting
    * branch are q40's, from the shared ρ builders.
    *
    * Scale shape: one map-side-combinable (day, register) aggregation
    * over events; everything after lives on the days × 256 axis. */
  def q82SketchedMau(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sketchedMau(Tables.events(s, dir)
      .select(unix_timestamp(date_trunc("day", $"ts")).as("es"), $"user_id")
      .select(expr("es div 86400").as("di"), $"user_id"))
  }

  /** q82's core over an explicit (di, user_id) relation — exposed so the
    * spec can compare the sketch against q74's exact MAU. */
  private[graft] def sketchedMau(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val h = DedupLsh.h60($"user_id".cast("string"))
    val daily = ev.select($"di", (h % 256).as("idx"), hllRho(h).as("rho"))
      .groupBy($"di", $"idx").agg(max($"rho").as("mx"))
      .cache() // feeds the day axis and the dense grid
    val days = daily.select($"di").distinct()
      // global-window AUDIT (r15): one row per day — calendar axis.
      .withColumn("window_days", count(lit(1)).over(
        Window.orderBy($"di").rangeBetween(-27, 0)))
      .cache() // day-axis cardinality; feeds the grid and the output join
    val dense = days.select($"di")
      .crossJoin(broadcast((0 until 256).toDF("idx")))
      .join(daily, Seq("di", "idx"), "left")
      .select($"di", $"idx", coalesce($"mx", lit(0)).as("mx"))
    val merged = dense.withColumn("m", max($"mx").over(
      Window.partitionBy($"idx").orderBy($"di").rangeBetween(-27, 0)))
    val sk = merged.groupBy($"di")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - m)")).as("s"),
        sum(when($"m" === 0, 1L).otherwise(0L)).as("v"))
    val raw = lit(HllConst) / $"s".cast("double")
    val est = when($"v" > 0 && raw <= lit(2.5 * HllM),
        lit(HllM.toDouble) * log(lit(HllM.toDouble) / $"v".cast("double")))
      .otherwise(raw)
    val out = sk.join(days, "di")
      .select($"di".as("day"), $"window_days", $"v".as("zero_regs"),
        r(est, 2).as("mau_est"))
      .orderBy($"day")
      .localCheckpoint(true)
    Seq(daily, days).foreach(_.unpersist(blocking = false))
    out
  }

  val q82Sql: String = {
    val raw = s"$HllConst / CAST(s AS DOUBLE)"
    s"""WITH ev AS (SELECT
         (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400) AS di,
         ${DedupLsh.h60Sql("user_id::VARCHAR")} AS hv
       FROM events),
       daily AS MATERIALIZED (SELECT di, hv % 256 AS idx,
           max($hllRhoSql) AS mx
         FROM ev GROUP BY di, hv % 256),
       days AS MATERIALIZED (SELECT di,
           CAST(count(*) OVER (ORDER BY di RANGE BETWEEN 27 PRECEDING
             AND CURRENT ROW) AS BIGINT) AS window_days
         FROM (SELECT DISTINCT di FROM daily) z),
       grid AS (SELECT di, unnest(generate_series(0, 255)) AS idx
         FROM days),
       dense AS (SELECT g.di, g.idx, coalesce(d.mx, 0) AS mx
         FROM grid g LEFT JOIN daily d ON d.di = g.di AND d.idx = g.idx),
       mg AS (SELECT di, idx, max(mx) OVER (PARTITION BY idx ORDER BY di
           RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS m
         FROM dense),
       sk AS (SELECT di, CAST(sum(1::BIGINT << (53 - m)) AS BIGINT) AS s,
           CAST(count(CASE WHEN m = 0 THEN 1 END) AS BIGINT) AS v
         FROM mg GROUP BY di)
       SELECT sk.di AS day, window_days, v AS zero_regs,
         ${rSql(s"CASE WHEN v > 0 AND $raw <= ${2.5 * HllM} THEN ${HllM.toDouble} * ln(${HllM.toDouble} / CAST(v AS DOUBLE)) ELSE $raw END", 2)} AS mau_est
       FROM sk JOIN days USING (di)
       ORDER BY day"""
  }

  // --- q45: KMV / theta-family distinct sketch with a mergeable union ---

  private[graft] val KmvK = 64 // k minimum values; std error ≈ 1/√(k−2) ≈ 12.7%
  private val KmvSalts = 32

  /** (k−1)·2⁶⁰ as ONE double literal (both factors are powers-of-two-
    * scaled small ints, so the product is exactly representable and both
    * engines parse the identical constant — the HllConst pattern). */
  private[graft] val KmvNum: Double = (KmvK - 1).toDouble * 1152921504606846976.0

  /** q45 — KMV (k-minimum-values) distinct-count sketch per event type,
    * the order-statistics member of the sketch suite (q40 HLL, d21 CMS,
    * q39 sampled percentiles, q37 GK, q41 Bloom; Bar-Yossef et al. 2002 —
    * the estimator inside Theta sketches): keep the [[KmvK]] smallest
    * h60 hashes of the distinct users; if the sketch isn't full the count
    * is exact, else est = (k−1)·2⁶⁰ / h_(k). The `_union` row is the KMV
    * of the merged per-type sketches — set-operation mergeability is THE
    * reason engines ship theta sketches, and here union-merge ≡ KMV of
    * the distinct-user union by construction, so the oracle checks the
    * merge law itself. Estimates derive from exact integer hashes (the
    * only float ops are one product-literal division, nearest-double
    * conversion being identical in both engines), then round.
    *
    * Scale shape: one distinct shuffle on (type, user), then s04's salted
    * two-phase top-k so the low-cardinality type key never funnels the
    * corpus through ≤|types| window tasks; sketch state is O(k) per key —
    * the mergeable-across-partitions layout production theta sketches
    * use. */
  def q45KmvSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val du = Tables.events(s, dir)
      .select($"event_type", $"user_id").distinct()
      .withColumn("h", DedupLsh.h60($"user_id".cast("string")))
      .cache()
    val uni = du.select($"user_id", $"h").distinct()
      .select(lit("_union").as("event_type"), $"user_id", $"h")
    val all = du.select($"event_type", $"user_id", $"h").unionByName(uni)
    val cnt = all.groupBy($"event_type").agg(count(lit(1)).as("n_exact"))
    // salted lossless pre-rank (s04's trick), then the exact per-type rank
    val pre = all
      .withColumn("salt", pmod(xxhash64($"user_id"), lit(KmvSalts)))
      .withColumn("r1", row_number().over(
        Window.partitionBy($"event_type", $"salt").orderBy($"h", $"user_id")))
      .filter($"r1" <= KmvK)
    val kth = pre
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"h", $"user_id")))
      .filter($"rk" <= KmvK)
      .groupBy($"event_type")
      .agg(max($"h").as("kth_hash"), count(lit(1)).as("m"))
    val est = when($"m" < KmvK, $"n_exact".cast("double"))
      .otherwise(lit(KmvNum) / $"kth_hash".cast("double"))
    val out = cnt.join(kth, "event_type")
      .select($"event_type", $"n_exact", $"kth_hash", r(est, 2).as("kmv_estimate"))
      .withColumn("rel_err",
        r(abs($"kmv_estimate" - $"n_exact") / $"n_exact", 4))
      .orderBy($"event_type")
      .localCheckpoint(true)
    du.unpersist(blocking = false)
    out
  }

  val q45Sql: String =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       dh AS (SELECT event_type, user_id,
           ${DedupLsh.h60Sql("user_id::VARCHAR")} AS h FROM du),
       un AS (SELECT '_union' AS event_type, user_id, h
         FROM (SELECT DISTINCT user_id, h FROM dh)),
       allr AS (SELECT * FROM dh UNION ALL SELECT * FROM un),
       cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
         FROM allr GROUP BY 1),
       rk AS (SELECT event_type, h, user_id,
           row_number() OVER (PARTITION BY event_type
             ORDER BY h, user_id) AS rk FROM allr),
       kth AS (SELECT event_type, CAST(max(h) AS BIGINT) AS kth_hash,
           count(*) AS m FROM rk WHERE rk <= $KmvK GROUP BY 1),
       base AS (SELECT cnt.event_type, n_exact, kth_hash,
           ${rSql(s"CASE WHEN m < $KmvK THEN CAST(n_exact AS DOUBLE) ELSE $KmvNum / CAST(kth_hash AS DOUBLE) END", 2)}
             AS kmv_estimate
         FROM cnt JOIN kth USING (event_type))
       SELECT event_type, n_exact, kth_hash, kmv_estimate,
         ${rSql("abs(kmv_estimate - n_exact) / n_exact", 4)} AS rel_err
       FROM base
       ORDER BY event_type"""

  // --- q46: robust statistics (median absolute deviation) ---------------

  /** q46 — robust dispersion per return flag: median, MAD = median(|x −
    * median|), and the normal-consistent robust sigma 1.4826·MAD (Hampel;
    * the outlier-resistant complement of q23's moment statistics — one
    * corrupted price shifts a stddev but not a MAD). Two exact-percentile
    * stages on the q33/q39-proven `percentile` ↔ `quantile_cont` parity
    * pairing: deviations are single IEEE ops against the ROUNDED median,
    * so the second percentile's input is bit-identical cross-engine.
    *
    * Scale shape: first percentile per group, 3-row broadcast back, scan-
    * local deviations, second percentile per group — two group sorts, no
    * raw-row shuffle beyond them. Exact percentile buffers per group
    * (q39's caveat); the constant-memory path at 100 TB is q37's GK
    * sketch on both stages. */
  def q46RobustStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Skew.fanOut(Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_extendedprice"), $"l_extendedprice")
    val med = li.groupBy($"l_returnflag")
      .agg(r(percentile($"l_extendedprice", lit(0.5)), 6).as("med"))
    li.join(broadcast(med), "l_returnflag")
      .select($"l_returnflag", $"med",
        abs($"l_extendedprice" - $"med").as("dev"))
      .groupBy($"l_returnflag", $"med")
      .agg(count(lit(1)).as("n"),
        r(percentile($"dev", lit(0.5)), 6).as("mad"))
      .withColumn("sigma_robust", r($"mad" * lit(1.4826), 6))
      .select($"l_returnflag", $"n", $"med", $"mad", $"sigma_robust")
      .orderBy($"l_returnflag")
  }

  val q46Sql: String =
    s"""WITH med AS (SELECT l_returnflag,
         ${rSql("quantile_cont(l_extendedprice, 0.5)", 6)} AS med
       FROM lineitem GROUP BY 1),
       d AS (SELECT l.l_returnflag, med,
           abs(l_extendedprice - med) AS dev
         FROM lineitem l JOIN med USING (l_returnflag)),
       d2 AS (SELECT l_returnflag, med, CAST(count(*) AS BIGINT) AS n,
           ${rSql("quantile_cont(dev, 0.5)", 6)} AS mad
         FROM d GROUP BY 1, 2)
       SELECT l_returnflag, n, med, mad,
         ${rSql("mad * CAST(1.4826 AS DOUBLE)", 6)} AS sigma_robust
       FROM d2
       ORDER BY l_returnflag"""

  /** q71 — trimmed + winsorized means per return flag (the
    * robust-location family member between q46's median/MAD and the raw
    * q23 moments): thresholds = exact interpolated p05/p95 (rounded
    * before comparison, the q33/t20 policy), trimmed mean drops the
    * tails, winsorized mean CLAMPS them (least/greatest — scan-local,
    * identical in both engines). One threshold aggregate broadcast back,
    * one conditional-aggregate scan — no second sort.
    *
    * Scale shape: exact percentiles sort per group (q33's documented
    * cost; q39's hash-sample is the drop-in at 100 TB), everything else
    * is map-side-combinable. */
  def q71WinsorizedStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the exact-percentile partial buffers build across the session's
    // parallelism, not the scan's few splits (q46 measured 3.15 -> 1.98 s
    // with the fan-out; same shape here)
    winsorizedStats(Skew.fanOut(Tables.lineitem(s, dir)
      .select($"l_returnflag".as("seg"), $"l_extendedprice".as("x")), $"x"))
  }

  /** q71's core over (seg, x) — exposed for the hand-computed 1..100
    * spec. */
  private[graft] def winsorizedStats(vals: DataFrame): DataFrame = {
    val s = vals.sparkSession
    import s.implicits._
    // ONE array-percentile: two scalar percentile() aggs would buffer
    // the whole segment twice for identical values (the q73 lesson)
    val th = vals.groupBy($"seg")
      .agg(percentile($"x", array(lit(0.05), lit(0.95))).as("q"))
      .select($"seg", r(element_at($"q", 1), 6).as("lo"),
        r(element_at($"q", 2), 6).as("hi"))
    vals.join(broadcast(th), "seg")
      .groupBy($"seg", $"lo", $"hi")
      .agg(count(lit(1)).as("n"),
        sum(when($"x" >= $"lo" && $"x" <= $"hi", 1L).otherwise(0L)).as("n_kept"),
        ravg(when($"x" >= $"lo" && $"x" <= $"hi", $"x"), 6).as("trimmed_mean"),
        ravg(least(greatest($"x", $"lo"), $"hi"), 6).as("winsor_mean"))
      .select($"seg", $"n", $"lo".as("p05"), $"hi".as("p95"),
        $"n_kept", $"trimmed_mean", $"winsor_mean")
      .orderBy($"seg")
  }

  val q71Sql: String =
    s"""WITH v AS (SELECT l_returnflag AS seg, l_extendedprice AS x
         FROM lineitem),
       th AS (SELECT seg,
           ${rSql("quantile_cont(x, 0.05)", 6)} AS lo,
           ${rSql("quantile_cont(x, 0.95)", 6)} AS hi
         FROM v GROUP BY seg),
       j AS (SELECT v.seg, x, lo, hi FROM v JOIN th USING (seg))
       SELECT seg, count(*) AS n, lo AS p05, hi AS p95,
         CAST(sum(CASE WHEN x >= lo AND x <= hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         ${ravgSql("CASE WHEN x >= lo AND x <= hi THEN x END", 6)} AS trimmed_mean,
         ${ravgSql("least(greatest(x, lo), hi)", 6)} AS winsor_mean
       FROM j GROUP BY seg, lo, hi ORDER BY seg"""

  /** q73 — equi-DEPTH histogram of line-item price (q42's equi-width
    * complement, and the statistic a cost-based optimizer actually keeps):
    * bucket boundaries = the exact interpolated decile grid (rounded
    * before comparison, q33's policy), assignment = nine scan-local
    * comparisons against the ONE broadcast boundary row (values equal to
    * a boundary fall LOW, t20's tie rule), per-bucket count/min/max.
    * Counts deviate from n/10 exactly where ties mass on a boundary —
    * which is the point of reporting them.
    *
    * Scale shape: one exact-percentile aggregate (q39's sampled grid is
    * the 100 TB drop-in), then a map-side-combinable count scan. */
  def q73EquidepthHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the same percentile-partial fan-out as q46/q71
    equidepthHist(Skew.fanOut(Tables.lineitem(s, dir)
      .select($"l_extendedprice".as("x")), $"x"))
  }

  /** q73's core over (x) — exposed for the 1..100 hand-computed spec. */
  private[graft] def equidepthHist(vals: DataFrame): DataFrame = {
    val s = vals.sparkSession
    import s.implicits._
    // ONE array-percentile aggregate: nine scalar percentile() calls each
    // buffer the whole column separately (measured 12 s at sf0.1; this
    // form 2 s, identical values — the same exact interpolation per p)
    val bounds = vals
      .agg(percentile($"x", array((1 to 9).map(i => lit(i / 10.0)): _*)).as("ps"))
      .select((1 to 9).map(i => r($"ps".getItem(i - 1), 6).as(s"b$i")): _*)
    vals.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        (1 to 9).map(i => when($"x" > col(s"b$i"), 1).otherwise(0))
          .reduce(_ + _) + 1)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_items"),
        r(min($"x"), 6).as("lo"), r(max($"x"), 6).as("hi"))
      .orderBy($"bucket")
  }

  val q73Sql: String = {
    val qs = (1 to 9).map(i =>
      s"${rSql(s"quantile_cont(x, 0.$i)", 6)} AS b$i").mkString(", ")
    val bucket = (1 to 9).map(i => s"CASE WHEN x > b$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
       b AS (SELECT $qs FROM v)
       SELECT ($bucket) + 1 AS bucket, count(*) AS n_items,
         ${rSql("min(x)", 6)} AS lo, ${rSql("max(x)", 6)} AS hi
       FROM v CROSS JOIN b
       GROUP BY 1 ORDER BY 1"""
  }

  /** q74 — DAU/WAU/MAU active-user rollup with the DAU/MAU stickiness
    * ratio (the growth-accounting standard next to q65's new/returning
    * split): trailing 7/28-day distinct users per day WITHOUT a sliding
    * distinct window — each (user, day) row fans out to the window-end
    * days it supports (7 rows for WAU, 28 for MAU), and the trailing
    * count becomes a plain per-day COUNT DISTINCT. Bounded fan-out, one
    * uniform day-keyed shuffle per metric — the scalable form of a
    * distinct-over-RANGE-window, which Spark cannot evaluate and a
    * 1000-executor cluster would not want anyway. Phantom trailing days
    * beyond the data horizon are clipped against the broadcast max-day.
    * Day index is epoch-days (exact-multiple division, d43-safe). */
  def q74ActiveUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    activeUsers(Tables.events(s, dir)
      .select($"user_id", date_trunc("day", $"ts").cast("long").as("es"))
      .select($"user_id", expr("es div 86400").as("di")))
  }

  /** q74's core over (user_id, di) — exposed for the planted two-cohort
    * spec. */
  private[graft] def activeUsers(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val ud = ev.select($"user_id", $"di").distinct().cache()
    val bounds = ud.agg(max($"di").as("mx"))
    def windowed(days: Int, name: String): DataFrame =
      ud.select($"user_id",
          explode(sequence($"di", $"di" + (days - 1))).as("wd"))
        .crossJoin(broadcast(bounds))
        .filter($"wd" <= $"mx")
        .groupBy($"wd".as("di"))
        .agg(countDistinct($"user_id").as(name))
    val dau = ud.groupBy($"di").agg(countDistinct($"user_id").as("dau"))
    val out = dau
      .join(windowed(7, "wau"), Seq("di"))
      .join(windowed(28, "mau"), Seq("di"))
      .select($"di", $"dau", $"wau", $"mau",
        r($"dau".cast("double") / $"mau".cast("double"), 6).as("stickiness"))
      .orderBy($"di")
      .localCheckpoint(true)
    ud.unpersist(blocking = false)
    out
  }

  val q74Sql: String =
    s"""WITH ud AS MATERIALIZED (SELECT DISTINCT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS di
       FROM events),
       mx AS (SELECT max(di) AS mx FROM ud),
       dau AS (SELECT di, count(DISTINCT user_id) AS dau FROM ud GROUP BY di),
       w7 AS (SELECT wd AS di, count(DISTINCT user_id) AS wau FROM (
           SELECT user_id, unnest(generate_series(di, di + 6)) AS wd FROM ud) z
         CROSS JOIN mx WHERE wd <= mx GROUP BY wd),
       w28 AS (SELECT wd AS di, count(DISTINCT user_id) AS mau FROM (
           SELECT user_id, unnest(generate_series(di, di + 27)) AS wd FROM ud) z
         CROSS JOIN mx WHERE wd <= mx GROUP BY wd)
       SELECT dau.di, dau.dau, w7.wau, w28.mau,
         ${rSql("CAST(dau.dau AS DOUBLE) / CAST(w28.mau AS DOUBLE)", 6)} AS stickiness
       FROM dau JOIN w7 ON w7.di = dau.di JOIN w28 ON w28.di = dau.di
       ORDER BY dau.di"""

  /** q75 — join-key skew report over the lineitem fact's three join keys
    * (orderkey / partkey / suppkey): per key column, the cardinality,
    * max/mean per-key row counts, the p99 per-key count, and the skew
    * factor max/mean — the diagnostic that decides between a plain
    * shuffle join, AQE skew splitting, or salting (operators/Skew.scala)
    * BEFORE the 100 TB job runs. One map-side-combinable count per key
    * column; the per-key count tables are key-cardinality-sized, and the
    * exact p99 runs on counts, not rows.
    *
    * The per-key mean is the exact-multiple-safe ratio of two counts;
    * p99 uses the q33 percentile pairing on integer counts. */
  def q75SkewReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey").cache()
    val out = Seq(("l_orderkey", $"l_orderkey"), ("l_partkey", $"l_partkey"),
      ("l_suppkey", $"l_suppkey")).map { case (name, c) =>
      li.groupBy(c.as("k")).agg(count(lit(1)).as("n"))
        .agg(lit(name).as("join_key"),
          count(lit(1)).as("n_keys"),
          sum($"n").as("n_rows"),
          max($"n").as("max_rows"),
          r(percentile($"n", lit(0.99)), 6).as("p99_rows"))
        .withColumn("mean_rows",
          r($"n_rows".cast("double") / $"n_keys".cast("double"), 6))
        .withColumn("skew_factor",
          r($"max_rows".cast("double") /
            ($"n_rows".cast("double") / $"n_keys".cast("double")), 6))
    }.reduce(_.unionByName(_))
      .select($"join_key", $"n_keys", $"n_rows", $"max_rows", $"p99_rows",
        $"mean_rows", $"skew_factor")
      .orderBy($"join_key")
      .localCheckpoint(true)
    li.unpersist(blocking = false)
    out
  }

  val q75Sql: String = {
    def one(name: String) =
      s"""SELECT '$name' AS join_key, count(*) AS n_keys,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(max(n) AS BIGINT) AS max_rows,
           ${rSql("quantile_cont(n, 0.99)", 6)} AS p99_rows,
           ${rSql("CAST(sum(n) AS BIGINT) / CAST(count(*) AS DOUBLE)", 6)} AS mean_rows,
           ${rSql("CAST(max(n) AS BIGINT) / (CAST(sum(n) AS BIGINT) / CAST(count(*) AS DOUBLE))", 6)} AS skew_factor
         FROM (SELECT $name AS k, count(*) AS n FROM lineitem GROUP BY $name) c"""
    s"""SELECT * FROM (${one("l_orderkey")}
       UNION ALL ${one("l_partkey")}
       UNION ALL ${one("l_suppkey")}) u
       ORDER BY join_key"""
  }

  /** q76 — top event paths: the 20 most frequent 3-step event-type
    * sequences across user streams (q58's Markov matrix assumes
    * order-1 memory; q76 reads the actual order-2 paths — funnel
    * discovery rather than funnel verification). Two leads on one
    * user_id window (never crossing user boundaries), one
    * map-side-combinable path count, share against the in-plan total,
    * top-20 by (count DESC, path ASC) — a TakeOrdered, not a global
    * sort. Paths serialize as '>'-joined strings (never expose an array
    * column — driver sort crashes, q27/e07 lesson). */
  def q76EventPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tri = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .filter($"e2".isNotNull && $"e3".isNotNull)
      .select(concat_ws(">", $"event_type", $"e2", $"e3").as("path"))
    val tot = tri.agg(count(lit(1)).as("nt"))
    tri.groupBy($"path").agg(count(lit(1)).as("n_paths"))
      .crossJoin(broadcast(tot))
      .withColumn("share", r($"n_paths".cast("double") / $"nt".cast("double"), 6))
      .select($"path", $"n_paths", $"share")
      .orderBy($"n_paths".desc_nulls_last, $"path")
      .limit(20)
  }

  val q76Sql: String =
    s"""WITH tri AS (SELECT event_type || '>' || e2 || '>' || e3 AS path FROM (
         SELECT event_type,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) z
       WHERE e2 IS NOT NULL AND e3 IS NOT NULL),
       tot AS (SELECT count(*) AS nt FROM tri)
       SELECT path, count(*) AS n_paths,
         ${rSql("count(*) / CAST(nt AS DOUBLE)", 6)} AS share
       FROM tri CROSS JOIN tot
       GROUP BY path, nt
       ORDER BY n_paths DESC NULLS LAST, path
       LIMIT 20"""

  /** q77 — weighted quantiles: the p25/p50/p75 of line-item price
    * weighted by QUANTITY per return flag ("half the units ship at or
    * below this price" — the unit-weighted view q33's row-weighted
    * percentiles can't give). Lower weighted quantile rule (smallest
    * value whose cumulative weight reaches q·W) — a DEFINED order
    * statistic with no interpolation, hence exactly portable; cumulative
    * weights stay decimal-exact and the thresholds compare in identical
    * IEEE text. Values pre-aggregate per (flag, price) so the per-group
    * window runs over distinct prices, not rows.
    *
    * Scale shape: one map-side-combinable (flag, price) weight rollup,
    * then the per-group sorted window over distinct values (q33's
    * documented exact-percentile cost; q39-style sampling is the 100 TB
    * drop-in). */
  def q77WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    weightedQuantiles(Tables.lineitem(s, dir)
      .select($"l_returnflag".as("seg"), $"l_extendedprice".as("x"),
        $"l_quantity".as("wt")))
  }

  /** q77's core over (seg, x, wt) — exposed for the hand-weighted spec. */
  private[graft] def weightedQuantiles(vals: DataFrame): DataFrame = {
    val s = vals.sparkSession
    import s.implicits._
    val g = vals.groupBy($"seg", $"x")
      .agg(sum($"wt".cast("decimal(38,10)")).as("w"))
    val wv = Window.partitionBy($"seg").orderBy($"x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pick(q: Double) =
      min(when($"cumw".cast("double") >= lit(q) * $"tw".cast("double"), $"x"))
    // r15 perf: the per-seg total used to be a second WindowExec
    // (partitionBy(seg), unbounded frame) — at any scale it re-buffers
    // every row of the partition just to attach one per-seg constant. A
    // ≤|seg|-row aggregate broadcast-joined back is the same
    // decimal-exact, order-free sum (identical values) with no second
    // full-frame pass (guide §2.4; plan 2 Window → 1). Local wall is
    // ~flat at sf0.1 (3.20 → 3.16 s, 9-rep medians — exchange reuse
    // already amortized most of it); the win is the removed pass at
    // scale, where the unbounded frame is corpus-proportional.
    val tot = g.groupBy($"seg").agg(sum($"w").as("tw"))
    g.withColumn("cumw", sum($"w").over(wv))
      .join(broadcast(tot), "seg")
      .groupBy($"seg")
      .agg(r(max($"tw").cast("double"), 2).as("total_weight"),
        pick(0.25).as("wp25"), pick(0.5).as("wp50"), pick(0.75).as("wp75"))
      .orderBy($"seg")
  }

  val q77Sql: String = {
    def pick(q: String) =
      s"min(CASE WHEN CAST(cumw AS DOUBLE) >= $q * CAST(tw AS DOUBLE) THEN x END)"
    s"""WITH v AS (SELECT l_returnflag AS seg, l_extendedprice AS x,
         l_quantity AS wt FROM lineitem),
       g AS (SELECT seg, x, sum(CAST(wt AS DECIMAL(38,10))) AS w
         FROM v GROUP BY seg, x),
       c AS (SELECT seg, x,
           sum(w) OVER (PARTITION BY seg ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
           sum(w) OVER (PARTITION BY seg) AS tw
         FROM g)
       SELECT seg, ${rSql("CAST(max(tw) AS DOUBLE)", 2)} AS total_weight,
         ${pick("0.25")} AS wp25, ${pick("0.5")} AS wp50,
         ${pick("0.75")} AS wp75
       FROM c GROUP BY seg ORDER BY seg"""
  }

  /** q20 — scalar subquery: parts priced above the global average.
    * The average goes through the decimal-exact policy in both engines so
    * the boundary is identical. */
  def q20ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("graft_part_sq")
    s.sql(
      s"""SELECT p_partkey, p_name, p_retailprice
         FROM graft_part_sq
         WHERE p_retailprice > (SELECT ${davgSql("p_retailprice")} FROM graft_part_sq)
         ORDER BY p_partkey""")
  }

  val q20Sql: String =
    s"""SELECT p_partkey, p_name, p_retailprice
       FROM part
       WHERE p_retailprice > (SELECT ${davgSql("p_retailprice")} FROM part)
       ORDER BY p_partkey"""

  /** q21 — correlated aggregate (TPC-H Q17 shape) decorrelated to a
    * window: lineitems under half their part's average quantity. The
    * window average uses the decimal-exact sum so partition order doesn't
    * matter. One shuffle on l_partkey. */
  def q21CorrelatedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_partkey")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
      .withColumn("part_avg_qty",
        r(sum($"l_quantity".cast("decimal(38,10)")).over(w).cast("double") /
          count(lit(1)).over(w), 4))
      .filter($"l_quantity" < $"part_avg_qty" * 0.5)
      // (l_orderkey, l_linenumber) is not unique in this testdata —
      // l_partkey completes the total order
      .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
  }

  val q21Sql: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, part_avg_qty FROM (
         SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
           ${rSql("CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) OVER w AS DOUBLE) / count(*) OVER w", 4)} AS part_avg_qty
         FROM lineitem
         WINDOW w AS (PARTITION BY l_partkey)) t
       WHERE l_quantity < part_avg_qty * 0.5
       ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity"""

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** unsorted pivot core shared by q22 (adds the sort) and q26 (unpivots —
    * sorting before Expand would be a wasted full-table shuffle+sort that
    * EliminateSorts cannot remove). */
  private def pivotCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
  }

  /** q22 — pivot: per-user event-type counts as columns (Spark `pivot`
    * with a pinned value list → no extra distinct-values job; nulls
    * filled 0 to match the oracle's conditional sums). */
  def q22Pivot(s: SparkSession, dir: String): DataFrame =
    pivotCore(s, dir).orderBy(col("user_id"))

  val q22Sql: String = {
    val cols = EventTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS \"$t\"")
      .mkString(",\n       ")
    s"""SELECT user_id,
       $cols
       FROM events
       GROUP BY user_id
       ORDER BY user_id"""
  }

  /** q23 — statistical aggregates: sample stddev/variance and Pearson
    * correlation per return flag. Built-in stddev/corr accumulate doubles
    * in partition order (non-reproducible across engines), so the moments
    * (Σx, Σx², Σxy) go through exact decimal sums and the classic
    * closed forms are evaluated in double — bit-identical both sides. */
  def q23StatsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    // the decimal-moment partials ran entirely in the sf0.1 scan's 3
    // splits (profiled: one 3-task 2.8 s stage was the whole query).
    // Project to the 3 needed columns, then fan out so the partials build
    // across the session's parallelism; the decimal sums are exact and
    // order-free, so values are unchanged.
    Skew.fanOut(Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice"), $"l_extendedprice")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        m($"l_quantity").as("sx"),
        m($"l_quantity" * $"l_quantity").as("sxx"),
        m($"l_extendedprice").as("sy"),
        m($"l_extendedprice" * $"l_extendedprice").as("syy"),
        m($"l_quantity" * $"l_extendedprice").as("sxy"))
      .select($"l_returnflag", $"n",
        r(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1), 6).as("var_qty"),
        r(sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)), 6).as("stddev_qty"),
        r(($"sxy" - $"sx" * $"sy" / $"n") /
          (sqrt($"sxx" - $"sx" * $"sx" / $"n") * sqrt($"syy" - $"sy" * $"sy" / $"n")), 6)
          .as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }

  val q23Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""SELECT l_returnflag, n,
       ${rSql("(sxx - sx * sx / n) / (n - 1)", 6)} AS var_qty,
       ${rSql("sqrt((sxx - sx * sx / n) / (n - 1))", 6)} AS stddev_qty,
       ${rSql("(sxy - sx * sy / n) / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))", 6)} AS corr_qty_price
       FROM (SELECT l_returnflag, count(*) AS n,
         ${m("l_quantity")} AS sx,
         ${m("l_quantity * l_quantity")} AS sxx,
         ${m("l_extendedprice")} AS sy,
         ${m("l_extendedprice * l_extendedprice")} AS syy,
         ${m("l_quantity * l_extendedprice")} AS sxy
         FROM lineitem GROUP BY l_returnflag) t
       ORDER BY l_returnflag"""
  }

  /** q35 — least-squares regression aggregates (the regr_* family):
    * slope / intercept / R² of price-on-quantity plus sample covariance,
    * per line status. Built-in regr_slope/regr_r2 accumulate doubles in
    * partition order (non-reproducible), so — like q23 — the moments go
    * through exact decimal sums and the closed forms are evaluated in
    * double with IDENTICAL operation order on both sides. One map-side
    * partial agg + one shuffle on the group key: scales like q01. */
  def q35RegressionAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    val slope = ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx")
    // q23's projected fan-out for the decimal partials
    Skew.fanOut(Tables.lineitem(s, dir)
      .select($"l_linestatus", $"l_quantity", $"l_extendedprice"), $"l_extendedprice")
      .groupBy($"l_linestatus")
      .agg(count(lit(1)).as("n0"),
        m($"l_quantity").as("sx"),
        m($"l_quantity" * $"l_quantity").as("sxx"),
        m($"l_extendedprice").as("sy"),
        m($"l_extendedprice" * $"l_extendedprice").as("syy"),
        m($"l_quantity" * $"l_extendedprice").as("sxy"))
      .select($"l_linestatus", $"n0".as("n"), $"sx", $"sxx", $"sy", $"syy", $"sxy")
      .select($"l_linestatus", $"n",
        r(slope, 6).as("slope"),
        r(($"sy" - slope * $"sx") / $"n", 6).as("intercept"),
        r((($"n" * $"sxy" - $"sx" * $"sy") * ($"n" * $"sxy" - $"sx" * $"sy")) /
          (($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")), 6).as("r2"),
        r(($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1), 6).as("covar_samp"))
      .orderBy($"l_linestatus")
  }

  val q35Sql: String = {
    def m(e: String) = decMomentSql(e)
    val slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    s"""SELECT l_linestatus, n,
       ${rSql(slope, 6)} AS slope,
       ${rSql(s"(sy - $slope * sx) / n", 6)} AS intercept,
       ${rSql("((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)} AS r2,
       ${rSql("(sxy - sx * sy / n) / (n - 1)", 6)} AS covar_samp
       FROM (SELECT l_linestatus, count(*) AS n,
         ${m("l_quantity")} AS sx,
         ${m("l_quantity * l_quantity")} AS sxx,
         ${m("l_extendedprice")} AS sy,
         ${m("l_extendedprice * l_extendedprice")} AS syy,
         ${m("l_quantity * l_extendedprice")} AS sxy
         FROM lineitem GROUP BY l_linestatus) t
       ORDER BY l_linestatus"""
  }

  /** q37 — approximate percentiles (Greenwald-Khanna sketch): the
    * sketch-family twin of q33's exact percentile_cont. At 100 TB exact
    * percentiles sort every group; the GK sketch is single-pass,
    * mergeable map-side, and bounds rank error by n/accuracy — the same
    * exact→sketch trade q16→q19 makes for distinct counts. Sketch
    * internals differ between engines (DuckDB uses t-digest) → rows-only;
    * AnalyticsSpec bounds the error against the exact q33 values. */
  def q37ApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("approx_percentile(l_extendedprice, 0.5D, 10000)").as("p50_approx"),
        expr("approx_percentile(l_extendedprice, 0.9D, 10000)").as("p90_approx"),
        expr("approx_percentile(l_extendedprice, 0.99D, 10000)").as("p99_approx"))
      .orderBy($"l_returnflag")
  }

  /** q24 — FILTER-clause conditional aggregates + multiset set ops:
    * per-status filtered sums (ANSI FILTER syntax, identical in both
    * engines) over the multiset difference of two order cohorts
    * (EXCEPT ALL preserves duplicity, unlike q12's EXCEPT). */
  def q24FilteredMultiset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderstatus", $"o_totalprice", year($"o_orderdate").as("y"))
    val a = ord.filter($"y" <= 1997).select($"o_custkey", $"o_orderstatus", $"o_totalprice")
    val b = ord.filter($"y" >= 1997).select($"o_custkey", $"o_orderstatus", $"o_totalprice")
    a.exceptAll(b)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count(when($"o_totalprice" > 100000.0, 1)).as("n_big"),
        rsum(when($"o_totalprice" > 100000.0, $"o_totalprice").otherwise(0.0), 2).as("big_total"))
      .orderBy($"o_orderstatus")
  }

  val q24Sql: String =
    s"""SELECT o_orderstatus, count(*) AS n,
       count(*) FILTER (WHERE o_totalprice > 100000.0) AS n_big,
       ${rsumSql("CASE WHEN o_totalprice > 100000.0 THEN o_totalprice ELSE 0.0 END", 2)} AS big_total
       FROM (
         SELECT o_custkey, o_orderstatus, o_totalprice FROM orders WHERE year(o_orderdate) <= 1997
         EXCEPT ALL
         SELECT o_custkey, o_orderstatus, o_totalprice FROM orders WHERE year(o_orderdate) >= 1997) t
       GROUP BY o_orderstatus
       ORDER BY o_orderstatus"""

  /** q25 — HAVING: brands whose line count clears a floor (post-aggregate
    * predicate; Catalyst evaluates it as a filter above the final agg). */
  def q25Having(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_lines"), rsum($"l_quantity", 2).as("sum_qty"))
      .filter($"n_lines" >= 100)
      .orderBy($"p_brand")
  }

  val q25Sql: String =
    s"""SELECT p_brand, count(*) AS n_lines, ${rsumSql("l_quantity", 2)} AS sum_qty
       FROM lineitem JOIN part ON l_partkey = p_partkey
       GROUP BY p_brand
       HAVING count(*) >= 100
       ORDER BY p_brand"""

  /** q26 — unpivot (melt): q22's wide per-user counts back to long form
    * (Spark `unpivot` API; the oracle uses the portable UNION ALL form). */
  def q26Unpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pivotCore(s, dir)
      .unpivot(Array($"user_id"), EventTypes.map(col).toArray, "event_type", "n_events")
      .filter($"n_events" > 0)
      .orderBy($"user_id", $"event_type")
  }

  val q26Sql: String = {
    val arms = EventTypes.map(t =>
      s"""SELECT user_id, '$t' AS event_type, "$t" AS n_events FROM p""")
      .mkString("\n       UNION ALL\n       ")
    s"""WITH p AS ($q22Sql)
       SELECT user_id, event_type, n_events FROM (
       $arms) u
       WHERE n_events > 0
       ORDER BY user_id, event_type"""
  }

  /** q27 — deterministic array aggregation: sorted distinct status set per
    * priority (collect_set alone is order-nondeterministic; array_sort
    * pins it — the only reproducible form of array agg). */
  def q27ArrayAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // explicit null guard: Spark collect_set silently DROPS nulls while
    // DuckDB list(DISTINCT) KEEPS one — filtering in both engines pins the
    // semantics instead of relying on the column never being null
    // array_join: an array<string> output column crashes the driver's
    // pandas sort_values ('unhashable numpy.ndarray', r1) — the joined
    // string carries the same information and is hashable
    Tables.orders(s, dir)
      .filter($"o_orderstatus".isNotNull)
      .groupBy($"o_orderpriority")
      .agg(array_join(array_sort(collect_set($"o_orderstatus")), ",").as("statuses"),
        countDistinct($"o_orderstatus").as("n_statuses"))
      .orderBy($"o_orderpriority")
  }

  val q27Sql: String =
    """SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       count(DISTINCT o_orderstatus) AS n_statuses
       FROM orders
       WHERE o_orderstatus IS NOT NULL
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority"""

  // --- q51: pairwise two-sample Kolmogorov–Smirnov distance -----------------

  /** q51 — two-sample Kolmogorov–Smirnov statistic between every pair of
    * sources on the per-doc token count: D = max_v |F_a(v) − F_b(v)|, the
    * nonparametric distribution-shift detector (the drift alarm between
    * crawls that a mean test like q49 can't see). ECDFs are exact count
    * ratios: one (source, value) count aggregation, a zero-filled
    * source × distinct-value grid (so both step functions are evaluated
    * on the SAME value axis — the tie-correct formulation), cumulative
    * counts via a window over the value axis, and the pairwise max over
    * the tiny F-grid self-join. Every F is an integer/integer division
    * and max is order-independent, so the statistic mirrors exactly.
    *
    * Scale shape: the corpus is touched once by the count aggregation;
    * everything downstream is (sources × distinct values)-sized — metric
    * cardinality, not corpus volume. */
  def q51KsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ksTest(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** q51's core over an explicit (source, x) relation — exposed so the
    * spec can plant distributions with a hand-computable D. */
  private[graft] def ksTest(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    // NULL metric values would diverge between engines on the cumulative
    // window (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST) — drop them
    // on both sides (q52/q66's fix, same rank-table shape).
    val cnt = metric.filter($"x".isNotNull)
      .groupBy($"source", $"x").agg(count(lit(1)).as("c"))
      .cache() // feeds the value axis, the per-source totals, and the grid
    val vals = cnt.select($"x").distinct()
    val srcn = cnt.groupBy($"source").agg(sum($"c").as("n"))
    val grid = srcn.crossJoin(broadcast(vals))
      .join(cnt, Seq("source", "x"), "left")
      .select($"source", $"n", $"x", coalesce($"c", lit(0L)).as("c"))
      .withColumn("f",
        sum($"c").over(Window.partitionBy($"source").orderBy($"x"))
          .cast("double") / $"n")
    val a = grid.select($"source".as("source_a"), $"n".as("n_a"),
      $"x", $"f".as("fa"))
    val b = grid.select($"source".as("source_b"), $"n".as("n_b"),
      $"x", $"f".as("fb"))
    val out = a.join(b, Seq("x")).filter($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b")
      .agg(min($"n_a").as("n_a"), min($"n_b").as("n_b"),
        r(max(abs($"fa" - $"fb")), 6).as("ks_stat"))
      .orderBy($"source_a", $"source_b")
      .localCheckpoint(true)
    cnt.unpersist(blocking = false)
    out
  }

  val q51Sql: String =
    s"""WITH cnt AS MATERIALIZED (SELECT source, x, count(*) AS c
       FROM (SELECT source, len(${TextOps.toksSql("lower(text)")}) AS x
             FROM documents) z
       WHERE x IS NOT NULL
       GROUP BY source, x),
       vals AS (SELECT DISTINCT x FROM cnt),
       srcn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
       grid AS (SELECT s.source, s.n, v.x, coalesce(c.c, 0) AS c
         FROM srcn s CROSS JOIN vals v
         LEFT JOIN cnt c ON c.source = s.source AND c.x = v.x),
       f AS (SELECT source, n, x,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY x) AS DOUBLE) / n AS f
       FROM grid)
       SELECT a.source AS source_a, b.source AS source_b,
         min(a.n) AS n_a, min(b.n) AS n_b,
         ${rSql("max(abs(a.f - b.f))", 6)} AS ks_stat
       FROM f a JOIN f b ON a.x = b.x AND a.source < b.source
       GROUP BY a.source, b.source
       ORDER BY source_a, source_b"""

  // --- q117: two-sample Cramér–von Mises over the q51 pairs ------------------

  /** The CvM normalization text over exact integers + the re-entered
    * inner sum s10: T = n·m/(n+m)² · Σ_pooled (F−G)². */
  private val CvmT =
    "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / " +
      "((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * " +
      "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))) * s10"

  /** The per-value inner term text: pooled weight w = c_a + c_b times the
    * squared ECDF gap, where the gap's NUMERATOR n_b·cum_a − n_a·cum_b is
    * an exact integer (double-exact magnitude) and the division chain is
    * one shared text. */
  private val CvmTerm =
    "CAST(w AS DOUBLE) * " +
      "(CAST(dn AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * " +
      "(CAST(dn AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))"

  /** q117 — the two-sample Cramér–von Mises statistic per source pair:
    * q51's KS reads only the single WORST ECDF gap; CvM integrates the
    * SQUARED gap over every pooled observation, so a distribution that
    * differs a little everywhere (which KS under-reads) scores — the
    * standard companion on the same ECDF machinery. Exactness: the gap
    * numerator n_b·cum_a − n_a·cum_b is an exact integer per pooled
    * value; each weighted term rounds at 10 dp and RE-ENTERS decimal so
    * the cross-value sum is order-independent (the q78/q111 discipline —
    * both engines compute identical terms, identical sums); T normalizes
    * through one shared text. Pooled values with zero pair mass weigh 0,
    * so the global value axis serves every pair.
    *
    * Scale shape: q51's — one count pass, a bounded distinct-value grid,
    * one pair join over |sources|² × |values| grid rows. */
  def q117CramerVonMises(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cvmTest(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** q117's core over an explicit (source, x) relation — exposed so the
    * spec can pin a hand-computed T. */
  private[graft] def cvmTest(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    val cnt = metric.filter($"x".isNotNull)
      .groupBy($"source", $"x").agg(count(lit(1)).as("c"))
      .cache() // feeds the value axis, per-source totals, and the grid
    val vals = cnt.select($"x").distinct()
    val srcn = cnt.groupBy($"source").agg(sum($"c").as("n"))
    val grid = srcn.crossJoin(broadcast(vals))
      .join(cnt, Seq("source", "x"), "left")
      .select($"source", $"n", $"x", coalesce($"c", lit(0L)).as("c"))
      .withColumn("cum",
        sum($"c").over(Window.partitionBy($"source").orderBy($"x")))
    val a = grid.select($"source".as("source_a"), $"n".as("n_a"),
      $"x", $"c".as("ca"), $"cum".as("cuma"))
    val b = grid.select($"source".as("source_b"), $"n".as("n_b"),
      $"x", $"c".as("cb"), $"cum".as("cumb"))
    val out = a.join(b, Seq("x")).filter($"source_a" < $"source_b")
      .withColumn("w", $"ca" + $"cb")
      .withColumn("dn", $"n_b" * $"cuma" - $"n_a" * $"cumb")
      .withColumn("term", r(expr(CvmTerm), 10))
      .groupBy($"source_a", $"source_b")
      .agg(min($"n_a").as("n_a"), min($"n_b").as("n_b"),
        rsum($"term", 10).as("s10"))
      .select($"source_a", $"source_b", $"n_a", $"n_b",
        r(expr(CvmT), 6).as("cvm_stat"))
      .orderBy($"source_a", $"source_b")
      .localCheckpoint(true)
    cnt.unpersist(blocking = false)
    out
  }

  val q117Sql: String =
    s"""WITH cnt AS MATERIALIZED (SELECT source, x, count(*) AS c
       FROM (SELECT source, len(${TextOps.toksSql("lower(text)")}) AS x
             FROM documents) z
       WHERE x IS NOT NULL
       GROUP BY source, x),
       vals AS (SELECT DISTINCT x FROM cnt),
       srcn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
       grid AS (SELECT s.source, s.n, v.x, coalesce(c.c, 0) AS c
         FROM srcn s CROSS JOIN vals v
         LEFT JOIN cnt c ON c.source = s.source AND c.x = v.x),
       g AS (SELECT source, n, x, c,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY x) AS BIGINT) AS cum
       FROM grid),
       pairs AS (SELECT a.source AS source_a, b.source AS source_b,
           a.n AS n_a, b.n AS n_b, a.c + b.c AS w,
           b.n * a.cum - a.n * b.cum AS dn
         FROM g a JOIN g b ON a.x = b.x AND a.source < b.source),
       terms AS (SELECT source_a, source_b, n_a, n_b,
           ${rSql(CvmTerm, 10)} AS term
         FROM pairs),
       agg AS (SELECT source_a, source_b,
           CAST(min(n_a) AS BIGINT) AS n_a, CAST(min(n_b) AS BIGINT) AS n_b,
           ${rsumSql("term", 10)} AS s10
         FROM terms GROUP BY source_a, source_b)
       SELECT source_a, source_b, n_a, n_b,
         ${rSql(CvmT, 6)} AS cvm_stat
       FROM agg ORDER BY source_a, source_b"""

  // --- q121: two-sample Anderson–Darling over the q51/q117 pairs -------------

  /** q121's shared texts: the per-pooled-value AD term over exact
    * integers — doubled mid-counts M′ = 2·cumₐ − cₐ and B′ = 2·cum − l
    * absorb the Scholz–Stephens l/2 midpoints, and for k = 2 the two
    * sample terms collapse (N·M′ₐ − nₐ·B′ = −(N·M′_b − n_b·B′)), so the
    * /4s cancel against the denominator's: term = l·D′²/den′ with
    * D′ = N·M′ₐ − nₐ·B′ and den′ = B′(2N − B′) − N·l, both integers
    * (D′² multiplies in double — D′ ≤ 2N² is double-exact far past any
    * driver scale, and BIGINT² would overflow first). */
  private val AdTerm =
    "CAST(w AS DOUBLE) * (CAST(dn AS DOUBLE) * CAST(dn AS DOUBLE)) / " +
      "CAST(den AS DOUBLE)"
  private val AdStat =
    "((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0) / " +
      "((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * " +
      "CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * s10"

  /** q121 — the two-sample Anderson–Darling statistic per source pair
    * (Scholz–Stephens 1987, the ties-adjusted midrank form): completes
    * the ECDF-distance family — q51's KS reads the single worst gap,
    * q117's CvM integrates the squared gap uniformly, AD weights it by
    * 1/(H(1−H)) so TAIL differences score (the detector for "same bulk,
    * different extremes" — length outliers one source alone produces).
    * Same count/grid machinery as q51/q117; every cumulative a BIGINT;
    * per-value terms round at 10 dp and re-enter decimal (order-free
    * sums, the q117 discipline); the one shared text normalizes.
    * Point-mass values (den′ = 0 ⇔ l = N) are skipped by convention —
    * they carry zero distribution information. Identical samples give
    * D′ = 0 at every value → A² = 0 exactly.
    *
    * Scale shape: q51's — one count pass, a bounded distinct-value
    * grid, one pair join over |sources|² × |values| grid rows. */
  def q121AndersonDarling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    adTest(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** q121's core over an explicit (source, x) relation — exposed so the
    * spec can pin a hand-computed A² and the identity law. */
  private[graft] def adTest(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    val cnt = metric.filter($"x".isNotNull)
      .groupBy($"source", $"x").agg(count(lit(1)).as("c"))
      .cache() // feeds the value axis, per-source totals, and the grid
    val vals = cnt.select($"x").distinct()
    val srcn = cnt.groupBy($"source").agg(sum($"c").as("n"))
    val grid = srcn.crossJoin(broadcast(vals))
      .join(cnt, Seq("source", "x"), "left")
      .select($"source", $"n", $"x", coalesce($"c", lit(0L)).as("c"))
      .withColumn("cum",
        sum($"c").over(Window.partitionBy($"source").orderBy($"x")))
    val a = grid.select($"source".as("source_a"), $"n".as("n_a"),
      $"x", $"c".as("ca"), $"cum".as("cuma"))
    val b = grid.select($"source".as("source_b"), $"n".as("n_b"),
      $"x", $"c".as("cb"), $"cum".as("cumb"))
    val out = a.join(b, Seq("x")).filter($"source_a" < $"source_b")
      .withColumn("w", $"ca" + $"cb")
      .withColumn("nn", $"n_a" + $"n_b")
      .withColumn("bp", ($"cuma" + $"cumb") * 2 - $"w")
      .withColumn("dn", $"nn" * ($"cuma" * 2 - $"ca") - $"n_a" * $"bp")
      .withColumn("den", $"bp" * ($"nn" * 2 - $"bp") - $"nn" * $"w")
      .withColumn("term",
        when($"den" > 0, r(expr(AdTerm), 10)).otherwise(lit(0.0)))
      .groupBy($"source_a", $"source_b")
      .agg(min($"n_a").as("n_a"), min($"n_b").as("n_b"),
        rsum($"term", 10).as("s10"))
      .select($"source_a", $"source_b", $"n_a", $"n_b",
        r(expr(AdStat), 6).as("ad_stat"))
      .orderBy($"source_a", $"source_b")
      .localCheckpoint(true)
    cnt.unpersist(blocking = false)
    out
  }

  val q121Sql: String =
    s"""WITH cnt AS MATERIALIZED (SELECT source, x, count(*) AS c
       FROM (SELECT source, len(${TextOps.toksSql("lower(text)")}) AS x
             FROM documents) z
       WHERE x IS NOT NULL
       GROUP BY source, x),
       vals AS (SELECT DISTINCT x FROM cnt),
       srcn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
       grid AS (SELECT s.source, s.n, v.x, coalesce(c.c, 0) AS c
         FROM srcn s CROSS JOIN vals v
         LEFT JOIN cnt c ON c.source = s.source AND c.x = v.x),
       g AS (SELECT source, n, x, c,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY x) AS BIGINT) AS cum
       FROM grid),
       pairs AS (SELECT source_a, source_b, n_a, n_b, w, dn,
           bp * (nn * 2 - bp) - nn * w AS den
         FROM (SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n_a, b.n AS n_b, a.c + b.c AS w, a.n + b.n AS nn,
             (a.cum + b.cum) * 2 - (a.c + b.c) AS bp,
             (a.n + b.n) * (a.cum * 2 - a.c)
               - a.n * ((a.cum + b.cum) * 2 - (a.c + b.c)) AS dn
           FROM g a JOIN g b ON a.x = b.x AND a.source < b.source) y),
       terms AS (SELECT source_a, source_b, n_a, n_b,
           CASE WHEN den > 0 THEN ${rSql(AdTerm, 10)} ELSE 0.0 END AS term
         FROM pairs),
       agg AS (SELECT source_a, source_b,
           CAST(min(n_a) AS BIGINT) AS n_a, CAST(min(n_b) AS BIGINT) AS n_b,
           ${rsumSql("term", 10)} AS s10
         FROM terms GROUP BY source_a, source_b)
       SELECT source_a, source_b, n_a, n_b,
         ${rSql(AdStat, 6)} AS ad_stat
       FROM agg ORDER BY source_a, source_b"""

  // --- q56: CUSUM changepoint scan over the hourly series -------------------

  /** q56 — CUSUM changepoint detection per event_type: the running sum of
    * deviations from the series mean, S_i = Σ_(j≤i) (x_j − μ), whose
    * maximum |S| marks the most likely level-shift point (Page 1954; the
    * monitoring primitive behind drift alarms). Series points are the
    * ROUNDED hourly means on the integer epoch-hour axis (q47's series),
    * μ is the rounded decimal series mean, and the running sum accumulates
    * in pinned hx order (q08 precedent) — so S, its max, and the argmax
    * hour mirror exactly; ties break to the earliest hour in both engines.
    *
    * Scale shape: one rollup aggregation over events, then everything is
    * series-sized (grows with time, not volume). */
  def q56Cusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cusum(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(ravg($"value", 6).as("x"))
      .select($"event_type", $"h".cast("long").as("hx"), $"x"))
  }

  /** q56's core over an explicit (event_type, hx, x) series — exposed so
    * the spec can plant a step series with a hand-located changepoint. */
  private[graft] def cusum(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val hourly = series.cache() // feeds the mean and the running scan
    val mu = hourly.groupBy($"event_type")
      .agg(count(lit(1)).as("n_hours"), ravg($"x", 6).as("mean_x"))
    val w = Window.partitionBy($"event_type").orderBy($"hx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = hourly.join(broadcast(mu), Seq("event_type"))
      .withColumn("s", sum($"x" - $"mean_x").over(w))
      .withColumn("abs_s", abs($"s"))
      .groupBy($"event_type")
      .agg(min($"n_hours").as("n_hours"), min($"mean_x").as("mean_x"),
        max(struct($"abs_s", (-$"hx").as("nh"), $"hx")).as("b"))
      .select($"event_type", $"n_hours", $"mean_x",
        $"b.hx".as("cp_hour"), r($"b.abs_s", 6).as("cusum_max"))
      .orderBy($"event_type")
      .localCheckpoint(true)
    hourly.unpersist(blocking = false)
    out
  }

  val q56Sql: String =
    s"""WITH h AS MATERIALIZED (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS x
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       m AS (SELECT event_type, count(*) AS n_hours, ${ravgSql("x", 6)} AS mean_x
         FROM h GROUP BY event_type),
       c AS (SELECT h.event_type, m.n_hours, m.mean_x, h.hx,
         sum(h.x - m.mean_x) OVER (PARTITION BY h.event_type ORDER BY h.hx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
         FROM h JOIN m USING (event_type)),
       rk AS (SELECT event_type, n_hours, mean_x, hx, abs(s) AS abs_s,
         row_number() OVER (PARTITION BY event_type
           ORDER BY abs(s) DESC, hx ASC) AS rn
         FROM c)
       SELECT event_type, n_hours, mean_x, hx AS cp_hour,
         ${rSql("abs_s", 6)} AS cusum_max
       FROM rk WHERE rn = 1 ORDER BY event_type"""

  // --- q111: Page–Hinkley drift statistic over the hourly series ------------

  /** PH insensitivity margin δ — shared by the batch query, the oracle
    * text, and the streaming fold (defined above the vals that
    * interpolate it; object-init order). */
  private[graft] val PhDelta = 0.005

  /** q111 — the Page–Hinkley test per event_type (Page 1954; Hinkley
    * 1971 — the sequential drift detector CUSUM's q56 is the
    * fixed-baseline cousin of): with x̄_i the RUNNING mean up to i,
    * m_t = Σ_{i≤t} (x_i − x̄_i − δ) and PH_t = m_t − min_{s≤t} m_s; the
    * report is each type's maximum PH and the hour it peaks (earliest on
    * ties) — the alarm statistic a drift monitor thresholds against λ.
    * Unlike q56, no trained baseline exists: the mean adapts as data
    * arrives, which is the deployable no-prior form. Series points are
    * the ROUNDED hourly means (q56's series); the running mean is
    * re-rounded each step (`Num.r`, identical text both engines), and
    * every running sum accumulates in pinned hx order (q08/q56
    * precedent), so m, its prefix min, and PH mirror exactly.
    *
    * Scale shape: one rollup aggregation over events, then three
    * window passes over the series — which grows with TIME, not volume. */
  def q111PageHinkley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pageHinkley(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(ravg($"value", 6).as("x"))
      .select($"event_type", $"h".cast("long").as("hx"), $"x"))
  }

  /** q111's core over an explicit (event_type, hx, x) series — exposed
    * so the spec can plant a level shift with a hand-computed PH peak
    * and the streaming replay can assert bit-equality. */
  private[graft] def pageHinkley(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"hx")
    val wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // every running sum accumulates EXACT DECIMAL(38,6): x is 6-dp
    // rounded and x̄/δ are 6-dp, so each term is an exact decimal —
    // order-independent accumulation (invariant-1 policy; a double fold
    // here measurably straddles the 6-dp rounding boundary between
    // engines). Only x̄'s division runs in double, re-rounded per step.
    series
      .withColumn("xd", $"x".cast("decimal(38,6)"))
      .withColumn("i", row_number().over(w))
      .withColumn("cs", sum($"xd").over(wp))
      .withColumn("term", $"xd" -
        r($"cs".cast("double") / $"i", 6).cast("decimal(38,6)") -
        lit(PhDelta).cast("decimal(38,6)"))
      .withColumn("m", sum($"term").over(wp))
      .withColumn("ph", ($"m" - min($"m").over(wp)).cast("double"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_hours"),
        max(struct($"ph", (-$"hx").as("nh"), $"hx")).as("b"))
      .select($"event_type", $"n_hours",
        $"b.hx".as("ph_hour"), r($"b.ph", 6).as("ph_max"))
      .orderBy($"event_type")
  }

  val q111Sql: String =
    s"""WITH h AS MATERIALIZED (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS x
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       st AS (SELECT event_type, hx, CAST(x AS DECIMAL(38,6)) AS xd,
         row_number() OVER w AS i,
         sum(CAST(x AS DECIMAL(38,6))) OVER w AS cs
         FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       t AS (SELECT event_type, hx,
         xd - CAST(${rSql("CAST(cs AS DOUBLE) / i", 6)} AS DECIMAL(38,6))
            - CAST($PhDelta AS DECIMAL(38,6)) AS term
         FROM st),
       mm AS (SELECT event_type, hx, sum(term) OVER w AS m
         FROM t WINDOW w AS (PARTITION BY event_type ORDER BY hx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       p AS (SELECT event_type, hx,
         CAST(m - min(m) OVER w AS DOUBLE) AS ph
         FROM mm WINDOW w AS (PARTITION BY event_type ORDER BY hx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       rk AS (SELECT event_type, hx, ph,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_hours,
         row_number() OVER (PARTITION BY event_type
           ORDER BY ph DESC NULLS LAST, hx ASC) AS rn
         FROM p)
       SELECT event_type, n_hours, hx AS ph_hour, ${rSql("ph", 6)} AS ph_max
       FROM rk WHERE rn = 1 ORDER BY event_type"""

  // --- q55: Theil–Sen robust trend over the daily series --------------------

  /** q55 — Theil–Sen estimator per event_type over the daily mean-value
    * series: slope = median of all pairwise slopes, intercept = median of
    * the per-day residuals against that slope — the robust trend line
    * (up to ~29% contamination) next to q35's OLS and q46's MAD. Series
    * points are ROUNDED decimal daily means on an integer day index, so
    * every pairwise slope is identical IEEE arithmetic; both medians ride
    * the proven percentile↔quantile_cont pairing.
    *
    * Scale shape: ONE map-side-combinable aggregation touches events; the
    * pairwise frame is days²-sized (the series grows with TIME, not
    * volume — 30 days ⇒ 435 pairs per type at any corpus size), so the
    * quadratic term is bounded by the calendar, never the data. */
  def q55TheilSen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    theilSen(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(ravg($"value", 6).as("y"))
      .select($"event_type",
        expr("CAST(d AS BIGINT) div 86400").as("di"), $"y"))
  }

  /** q55's core over an explicit (event_type, di, y) series — exposed so
    * the spec can plant a line with an outlier the median must reject. */
  private[graft] def theilSen(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val daily = series.cache() // feeds the pair join twice + the residuals
    val a = daily.select($"event_type", $"di".as("da"), $"y".as("ya"))
    val b = daily.select($"event_type".as("et2"), $"di".as("db"), $"y".as("yb"))
    val slopes = a.join(b, $"et2" === $"event_type" && $"da" < $"db")
      .withColumn("slope", expr("(yb - ya) / CAST(db - da AS DOUBLE)"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"),
        r(percentile($"slope", lit(0.5)), 6).as("ts_slope"))
    val out = daily.join(broadcast(slopes), Seq("event_type"))
      .withColumn("resid", expr("y - ts_slope * CAST(di AS DOUBLE)"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), min($"n_pairs").as("n_pairs"),
        min($"ts_slope").as("ts_slope"),
        r(percentile($"resid", lit(0.5)), 6).as("ts_intercept"))
      .select($"event_type", $"n_days", $"n_pairs", $"ts_slope", $"ts_intercept")
      .orderBy($"event_type")
      .localCheckpoint(true)
    daily.unpersist(blocking = false)
    out
  }

  val q55Sql: String =
    s"""WITH daily AS MATERIALIZED (SELECT event_type,
         (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400) AS di,
         ${rSql(davgSql("value"), 6)} AS y
       FROM events GROUP BY event_type, date_trunc('day', ts)),
       sl AS (SELECT a.event_type, count(*) AS n_pairs,
         ${rSql("quantile_cont((b.y - a.y) / CAST(b.di - a.di AS DOUBLE), 0.5)", 6)} AS ts_slope
       FROM daily a JOIN daily b
         ON b.event_type = a.event_type AND a.di < b.di
       GROUP BY a.event_type)
       SELECT d.event_type, count(*) AS n_days, min(s.n_pairs) AS n_pairs,
         min(s.ts_slope) AS ts_slope,
         ${rSql("quantile_cont(d.y - s.ts_slope * CAST(d.di AS DOUBLE), 0.5)", 6)} AS ts_intercept
       FROM daily d JOIN sl s ON s.event_type = d.event_type
       GROUP BY d.event_type
       ORDER BY d.event_type"""

  // --- q80: Mann–Kendall trend test ------------------------------------------

  /** Shared Mann–Kendall algebra over (n, s_stat, tsum, n0, n1): the
    * tie-corrected variance of S, Kendall's tau-b, and the
    * continuity-corrected z — one text per engine, all inputs exact
    * integers. */
  private val MkVar =
    "((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * (2.0 * CAST(n AS DOUBLE) + 5.0) - CAST(tsum AS DOUBLE)) / 18.0)"
  private val MkTau =
    "(CAST(s_stat AS DOUBLE) / sqrt((CAST(n0 AS DOUBLE) - CAST(n1 AS DOUBLE)) * CAST(n0 AS DOUBLE)))"

  /** q80 — Mann–Kendall trend test per event_type over q55's daily
    * series (the SIGNIFICANCE companion of q55's Theil–Sen slope — the
    * two are used together: Theil–Sen says how steep, Mann–Kendall says
    * whether the monotone trend is real): S = Σ_{i<j} sgn(y_j − y_i)
    * from the same day-axis-bounded pair join q55 runs, tie-corrected
    * var(S) = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18, Kendall's tau-b with
    * the tie denominator, and the continuity-corrected z. Every input —
    * S, tie-group sizes, pair counts — is an exact integer, so the test
    * mirrors bit-for-bit. Fully-tied series (var = 0) drop out: no
    * variance to test against.
    *
    * Scale shape: one map-side-combinable daily rollup; the pair join
    * and tie table live on the (type × days) axis — time-grown, not
    * corpus-grown. */
  def q80MannKendall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mannKendall(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(ravg($"value", 6).as("y"))
      .select($"event_type",
        expr("CAST(d AS BIGINT) div 86400").as("di"), $"y"))
  }

  /** q80's core over an explicit (event_type, di, y) series — exposed so
    * the spec can plant monotone, tied, and constant series. */
  private[graft] def mannKendall(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val daily = series.cache() // feeds the pair join twice + the tie table
    val a = daily.select($"event_type", $"di".as("da"), $"y".as("ya"))
    val b = daily.select($"event_type".as("et2"), $"di".as("db"), $"y".as("yb"))
    val sv = a.join(b, $"et2" === $"event_type" && $"da" < $"db")
      .withColumn("sgn",
        when($"yb" > $"ya", 1L).when($"yb" < $"ya", -1L).otherwise(0L))
      .groupBy($"event_type")
      .agg(sum($"sgn").as("s_stat"))
    val ties = daily.groupBy($"event_type", $"y").agg(count(lit(1)).as("t"))
      .groupBy($"event_type")
      .agg(sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)).as("tsum"),
        sum(expr("(t * (t - 1)) div 2")).as("n1"))
    val cnt = daily.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val out = cnt.join(sv, "event_type").join(ties, "event_type")
      .withColumn("n0", expr("(n * (n - 1)) div 2"))
      .filter(expr(MkVar) > 0 && $"n0" > $"n1")
      .select($"event_type", $"n".as("n_days"), $"s_stat",
        r(expr(MkTau), 6).as("tau_b"), r(expr(MkVar), 6).as("var_s"),
        when($"s_stat" > 0,
          r(expr(s"(CAST(s_stat AS DOUBLE) - 1.0) / sqrt($MkVar)"), 6))
          .when($"s_stat" < 0,
            r(expr(s"(CAST(s_stat AS DOUBLE) + 1.0) / sqrt($MkVar)"), 6))
          .otherwise(0.0).as("z"))
      .orderBy($"event_type")
      .localCheckpoint(true)
    daily.unpersist(blocking = false)
    out
  }

  val q80Sql: String =
    s"""WITH daily AS MATERIALIZED (SELECT event_type,
         (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400) AS di,
         ${rSql(davgSql("value"), 6)} AS y
       FROM events GROUP BY event_type, date_trunc('day', ts)),
       sv AS (SELECT a.event_type,
           CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
             ELSE 0 END) AS BIGINT) AS s_stat
         FROM daily a JOIN daily b
           ON b.event_type = a.event_type AND a.di < b.di
         GROUP BY a.event_type),
       tg AS (SELECT event_type, y, count(*) AS t
         FROM daily GROUP BY event_type, y),
       ti AS (SELECT event_type,
           CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum,
           CAST(sum((t * (t - 1)) // 2) AS BIGINT) AS n1
         FROM tg GROUP BY event_type),
       cn AS (SELECT event_type, count(*) AS n FROM daily GROUP BY event_type),
       jo AS (SELECT cn.event_type, n, s_stat, tsum, n1,
           (n * (n - 1)) // 2 AS n0
         FROM cn JOIN sv USING (event_type) JOIN ti USING (event_type))
       SELECT event_type, n AS n_days, s_stat,
         ${rSql(MkTau, 6)} AS tau_b, ${rSql(MkVar, 6)} AS var_s,
         CASE WHEN s_stat > 0
              THEN ${rSql(s"(CAST(s_stat AS DOUBLE) - 1.0) / sqrt($MkVar)", 6)}
              WHEN s_stat < 0
              THEN ${rSql(s"(CAST(s_stat AS DOUBLE) + 1.0) / sqrt($MkVar)", 6)}
              ELSE CAST(0.0 AS DOUBLE) END AS z
       FROM jo WHERE $MkVar > 0 AND n0 > n1
       ORDER BY event_type"""

  // --- q81: recursive CTE (Spark 4 WITH RECURSIVE) ---------------------------

  /** q81 — the sequential EWMA recursion evaluated by Spark's OWN
    * `WITH RECURSIVE` (new engine surface in Spark 4 — every other
    * sequential operator here runs recursions in mapGroups (t15/q61/q72)
    * or unrolled rounds (ml04/e10) because recursive SQL didn't exist;
    * q81 exercises the declarative third path and hash-checks it against
    * DuckDB's recursive CTE, the same construct the oracle family
    * already trusts): per event_type over the daily mean series, base
    * case = day 1, recursive step e = 0.25·y + 0.75·e_prev (binary-exact
    * literals), joined on the per-type day rank so the recursion
    * advances every type one row per iteration.
    *
    * Scale shape: one map-side-combinable daily rollup + a time-axis
    * rank window; the recursion state per iteration is one row per type
    * and iteration count = days — time-grown, not corpus-grown. */
  def q81RecursiveEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    recursiveEwma(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(ravg($"value", 6).as("y"))
      .select($"event_type",
        expr("CAST(d AS BIGINT) div 86400").as("di"), $"y"))
  }

  /** q81's core over an explicit (event_type, di, y) series — exposed so
    * the spec can plant a hand-folded recursion.
    *
    * r14 perf: this ran on Spark's own `WITH RECURSIVE` through r13 (the
    * declarative third path, proven working + hash-checked against DuckDB's
    * recursion since r6). Profiled at sf0.1 it executed 160 stages totaling
    * ~2 s of task time inside ~7 s wall — one driver-side plan/optimize
    * round PER RECURSION LEVEL (30 daily levels), pure scheduler overhead
    * that grows with the time axis. The recursion is a per-key LEFT FOLD,
    * so it now runs as ONE mapGroups pass after a single shuffle (the t15
    * EWMA precedent): same IEEE ops in the same order (e₁ = y₁;
    * eₜ = 0.25·yₜ + 0.75·eₜ₋₁ in double; [[Num.rD]] only on output), so the
    * result is bit-identical to the recursive CTE the DuckDB oracle still
    * runs. */
  private[graft] def recursiveEwma(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    series.select(col("event_type").as[String], col("di").as[Long],
        col("y").as[Double])
      .groupByKey(_._1)
      .flatMapGroups { (et: String, it: Iterator[(String, Long, Double)]) =>
        val rows = it.toArray.sortBy(_._2)
        var e = 0.0
        rows.iterator.zipWithIndex.map { case ((_, _, y), idx) =>
          e = if (idx == 0) y else 0.25 * y + 0.75 * e
          (et, idx + 1, y, Num.rD(e, 6))
        }
      }
      .toDF("event_type", "rn", "y", "ewma")
      .orderBy(col("event_type"), col("rn"))
  }

  val q81Sql: String =
    s"""WITH RECURSIVE daily AS MATERIALIZED (SELECT event_type,
         ${rSql(davgSql("value"), 6)} AS y,
         row_number() OVER (PARTITION BY event_type
           ORDER BY date_trunc('day', ts)) AS rn
       FROM events GROUP BY event_type, date_trunc('day', ts)),
       rec AS (
         SELECT event_type, rn, y, CAST(y AS DOUBLE) AS e
         FROM daily WHERE rn = 1
         UNION ALL
         SELECT d.event_type, d.rn, d.y, 0.25 * d.y + 0.75 * rec.e
         FROM daily d JOIN rec
           ON d.event_type = rec.event_type AND d.rn = rec.rn + 1)
       SELECT event_type, rn, y, ${rSql("e", 6)} AS ewma
       FROM rec ORDER BY event_type, rn"""

  // --- q54: entropy / mutual-information decomposition ----------------------

  /** Shared entropy text: H = ln(N) − (Σ n·ln n)/N over a decimal-exact
    * Σ n·ln n (sl/ss/sj) and the double total nn — the ln-parity family. */
  private val MiHl = "(ln(nn) - sl / nn)"
  private val MiHs = "(ln(nn) - ss / nn)"
  private val MiHj = "(ln(nn) - sj / nn)"

  /** q54 — Shannon entropy and mutual information of the lang × source
    * grid (nats): H(L), H(S), H(L,S), MI = H(L)+H(S)−H(L,S), and NMI =
    * MI/√(H(L)·H(S)) — the information-theoretic association measure next
    * to q50's χ² (χ² weights rare cells quadratically; MI is the
    * log-likelihood-ratio view, and NMI is the clustering-agreement score
    * ML evaluation uses). One count aggregation touches the corpus; the
    * three Σ n·ln n terms are decimal-exact sums over the tiny cell/
    * marginal tables, so the statistic mirrors bit-for-bit. */
  def q54MutualInfo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mutualInfo(Tables.documents(s, dir)
      .select(coalesce($"lang", lit("")).as("lang"),
        coalesce($"source", lit("")).as("source")))
  }

  /** q54's core over an explicit (lang, source) relation — exposed so the
    * spec can plant independent (MI = 0) and diagonal (NMI = 1) tables. */
  private[graft] def mutualInfo(cats: DataFrame): DataFrame = {
    val s = cats.sparkSession
    import s.implicits._
    val cells = cats.groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
      .cache() // feeds both marginals and the joint term
    def nLnN(c: org.apache.spark.sql.Column) =
      dsum(c.cast("double") * log(c.cast("double")))
    val jl = cells.agg(sum($"o").as("n0"), nLnN($"o").as("sj"))
    val sl = cells.groupBy($"lang").agg(sum($"o").as("nl"))
      .agg(nLnN($"nl").as("sl"))
    val ss = cells.groupBy($"source").agg(sum($"o").as("ns"))
      .agg(nLnN($"ns").as("ss"))
    val out = jl.crossJoin(broadcast(sl)).crossJoin(broadcast(ss))
      .select($"n0".as("n_docs"), $"n0".cast("double").as("nn"),
        $"sl", $"ss", $"sj")
      .select($"n_docs",
        r(expr(MiHl), 6).as("h_lang"), r(expr(MiHs), 6).as("h_source"),
        r(expr(MiHj), 6).as("h_joint"),
        r(expr(s"$MiHl + $MiHs - $MiHj"), 6).as("mi"),
        r(expr(s"CASE WHEN $MiHl > 0.0 AND $MiHs > 0.0 THEN ($MiHl + $MiHs - $MiHj) / sqrt($MiHl * $MiHs) ELSE 0.0 END"), 6)
          .as("nmi"))
      .localCheckpoint(true)
    cells.unpersist(blocking = false)
    out
  }

  val q54Sql: String = {
    def nLnN(e: String) = dsumSql(s"CAST($e AS DOUBLE) * ln(CAST($e AS DOUBLE))")
    s"""WITH cells AS MATERIALIZED (SELECT coalesce(lang, '') AS lang,
         coalesce(source, '') AS source, count(*) AS o
       FROM documents GROUP BY 1, 2),
       jl AS (SELECT CAST(sum(o) AS BIGINT) AS n0, ${nLnN("o")} AS sj FROM cells),
       ml AS (SELECT ${nLnN("nl")} AS sl FROM
         (SELECT CAST(sum(o) AS BIGINT) AS nl FROM cells GROUP BY lang) z),
       ms AS (SELECT ${nLnN("ns")} AS ss FROM
         (SELECT CAST(sum(o) AS BIGINT) AS ns FROM cells GROUP BY source) z)
       SELECT n_docs, ${rSql(MiHl, 6)} AS h_lang, ${rSql(MiHs, 6)} AS h_source,
         ${rSql(MiHj, 6)} AS h_joint,
         ${rSql(s"$MiHl + $MiHs - $MiHj", 6)} AS mi,
         ${rSql(s"CASE WHEN $MiHl > 0.0 AND $MiHs > 0.0 THEN ($MiHl + $MiHs - $MiHj) / sqrt($MiHl * $MiHs) ELSE 0.0 END", 6)} AS nmi
       FROM (SELECT n0 AS n_docs, CAST(n0 AS DOUBLE) AS nn, sl, ss, sj
         FROM jl CROSS JOIN ml CROSS JOIN ms) p"""
  }

  // --- q65: new-vs-returning growth accounting -------------------------------

  /** q65 — daily growth accounting: active users split into NEW (first
    * ever activity today) and RETURNING, plus the cumulative registered
    * user count — the product-analytics daily the reference's dashboards
    * imply and q31's cohort matrix summarizes. New/returning follows
    * from ONE min-day-per-user aggregation broadcast-joined back to the
    * distinct (user, day) activity set; the cumulative line is a running
    * sum over the day series (grows with time, not volume).
    *
    * Scale shape: two shuffles on user_id (distinct + min), then
    * everything is day-series-sized. */
  def q65NewVsReturning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    newVsReturning(Tables.events(s, dir)
      .select($"user_id", to_date($"ts").as("d")))
  }

  /** q65's core over an explicit (user_id, d) activity relation —
    * exposed so the spec can plant a two-day arrival pattern. */
  private[graft] def newVsReturning(act: DataFrame): DataFrame = {
    val s = act.sparkSession
    import s.implicits._
    val ud = act.distinct().cache()
    val firsts = ud.groupBy($"user_id").agg(min($"d").as("first_d"))
    val perDay = ud.join(firsts, "user_id")
      .groupBy($"d")
      .agg(count(lit(1)).as("n_active"),
        count(when($"first_d" === $"d", 1)).as("n_new"))
      .withColumn("n_returning", $"n_active" - $"n_new")
      // global-window AUDIT (r15): one row per day — calendar axis.
      .withColumn("cum_users", sum($"n_new").over(
        Window.orderBy($"d").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"d", $"n_active", $"n_new", $"n_returning", $"cum_users")
      .orderBy($"d")
      .localCheckpoint(true)
    ud.unpersist(blocking = false)
    perDay
  }

  val q65Sql: String =
    s"""WITH ud AS MATERIALIZED (SELECT DISTINCT user_id, d FROM
         (SELECT user_id, CAST(ts AS DATE) AS d FROM events)),
       f AS (SELECT user_id, min(d) AS first_d FROM ud GROUP BY user_id),
       perday AS (SELECT d, count(*) AS n_active,
           count(CASE WHEN first_d = d THEN 1 END) AS n_new
         FROM ud JOIN f USING (user_id) GROUP BY d)
       SELECT d, n_active, n_new, n_active - n_new AS n_returning,
         CAST(sum(n_new) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
       FROM perday ORDER BY d"""

  // --- q64: market-basket association rules over per-user type sets ---------

  /** q64 — association rules on the per-user event-type SET (Agrawal &
    * Srikant 1994's support/confidence plus lift): for every ordered
    * type pair A→B, how many users did both, P(A∧B), P(B|A), and the
    * lift over independence — the co-occurrence complement of q58's
    * sequential transitions (q58 asks "what follows A", q64 asks "who
    * also does B at all"). One distinct (user, type) projection feeds a
    * user-keyed self-join whose output is |types|²-bounded; marginals
    * broadcast. All ratios are integer-derived IEEE.
    *
    * Scale shape: distinct + self-join shuffle on user_id once; the
    * rule table is ≤ |types|² rows at any corpus size. */
  def q64BasketRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    basketRules(Tables.events(s, dir).select($"user_id", $"event_type"))
  }

  /** q64's core over an explicit (user_id, event_type) relation —
    * exposed so the spec can plant baskets with hand-computed lifts. */
  private[graft] def basketRules(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val ut = ev.select($"user_id", $"event_type").distinct().cache()
    // user total stays IN the plan (1-row broadcast) — no driver-side
    // count() sizing pass (the r4 lesson)
    val nu = ut.agg(countDistinct($"user_id").cast("double").as("nn"))
    val marg = ut.groupBy($"event_type").agg(count(lit(1)).as("n_t"))
    val both = ut.join(ut.select($"user_id".as("u2"), $"event_type".as("cons")),
        $"user_id" === $"u2" && $"event_type" =!= $"cons")
      .groupBy($"event_type".as("ante"), $"cons")
      .agg(count(lit(1)).as("n_both"))
    val out = both
      .join(broadcast(marg.select($"event_type".as("ante"), $"n_t".as("n_a"))), "ante")
      .join(broadcast(marg.select($"event_type".as("cons"), $"n_t".as("n_b"))), "cons")
      .crossJoin(broadcast(nu))
      .select($"ante", $"cons", $"n_both",
        r($"n_both".cast("double") / $"nn", 6).as("support"),
        r($"n_both".cast("double") / $"n_a".cast("double"), 6).as("confidence"),
        r(($"n_both".cast("double") * $"nn") /
          ($"n_a".cast("double") * $"n_b".cast("double")), 6).as("lift"))
      .orderBy($"ante", $"cons")
      .localCheckpoint(true)
    ut.unpersist(blocking = false)
    out
  }

  val q64Sql: String =
    s"""WITH ut AS MATERIALIZED (SELECT DISTINCT user_id, event_type FROM events),
       nu AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS nn FROM ut),
       marg AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY event_type),
       bo AS (SELECT a.event_type AS ante, b.event_type AS cons,
           count(*) AS n_both
         FROM ut a JOIN ut b ON b.user_id = a.user_id
           AND b.event_type != a.event_type
         GROUP BY 1, 2)
       SELECT ante, cons, n_both,
         ${rSql("CAST(n_both AS DOUBLE) / nn", 6)} AS support,
         ${rSql("CAST(n_both AS DOUBLE) / CAST(ma.n_t AS DOUBLE)", 6)} AS confidence,
         ${rSql("(CAST(n_both AS DOUBLE) * nn) / (CAST(ma.n_t AS DOUBLE) * CAST(mb.n_t AS DOUBLE))", 6)} AS lift
       FROM bo
       JOIN marg ma ON ma.event_type = ante
       JOIN marg mb ON mb.event_type = cons
       CROSS JOIN nu
       ORDER BY ante, cons"""

  // --- q62: robust outlier scan over the hourly series ----------------------

  /** q62 — modified-z-score outlier scan (Iglewicz & Hoaglin 1993): per
    * event_type, the 3 most extreme hours of the hourly mean series by
    * M = 0.6745·(x − median)/MAD, flagged when |M| > 3.5 — the robust
    * complement of t07's stddev spike detector (one wild hour inflates a
    * stddev threshold and masks itself; the median/MAD pair doesn't
    * move). Median and MAD ride the proven percentile pairing (q46),
    * the report always carries exactly 3 ranked rows per type so quiet
    * corpora don't produce an empty (hash-fragile) result, and a
    * constant series (MAD = 0) yields NULL scores in both engines.
    *
    * Scale shape: one rollup touches events; everything after is
    * series-sized (q47's argument). */
  def q62RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    robustOutliers(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(ravg($"value", 6).as("x"))
      .select($"event_type", $"h".cast("long").as("hx"), $"x"))
  }

  /** q62's core over an explicit (event_type, hx, x) series — exposed so
    * the spec can plant one wild hour in a tight series. */
  private[graft] def robustOutliers(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val h = series.cache() // feeds median, MAD, and the scoring pass
    val med = h.groupBy($"event_type")
      .agg(r(percentile($"x", lit(0.5)), 6).as("med"))
    val mad = h.join(broadcast(med), "event_type")
      .groupBy($"event_type")
      .agg(min($"med").as("med"),
        r(percentile(abs($"x" - $"med"), lit(0.5)), 6).as("mad"))
    val out = h.join(broadcast(mad), "event_type")
      .withColumn("mz",
        when($"mad" > 0, lit(0.6745) * ($"x" - $"med") / $"mad"))
      .withColumn("rk", row_number().over(Window.partitionBy($"event_type")
        .orderBy(abs($"mz").desc_nulls_last, $"hx".asc)))
      .filter($"rk" <= 3)
      .select($"event_type", $"rk".cast("long").as("rk"), $"hx", $"x",
        r($"mz", 6).as("mz"), (abs($"mz") > 3.5).cast("int").as("is_outlier"))
      .orderBy($"event_type", $"rk")
      .localCheckpoint(true)
    h.unpersist(blocking = false)
    out
  }

  val q62Sql: String =
    s"""WITH h AS MATERIALIZED (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS x
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       med AS (SELECT event_type, ${rSql("quantile_cont(x, 0.5)", 6)} AS med
         FROM h GROUP BY event_type),
       md AS (SELECT h.event_type, min(med) AS med,
         ${rSql("quantile_cont(abs(x - med), 0.5)", 6)} AS mad
       FROM h JOIN med USING (event_type) GROUP BY h.event_type),
       sc AS (SELECT h.event_type, hx, x, med, mad,
         CASE WHEN mad > 0 THEN 0.6745 * (x - med) / mad END AS mz
       FROM h JOIN md USING (event_type)),
       rk AS (SELECT event_type, hx, x, mz, row_number() OVER (
           PARTITION BY event_type
           ORDER BY abs(mz) DESC NULLS LAST, hx ASC) AS rk
         FROM sc)
       SELECT event_type, CAST(rk AS BIGINT) AS rk, hx, x,
         ${rSql("mz", 6)} AS mz,
         CAST(abs(mz) > 3.5 AS INTEGER) AS is_outlier
       FROM rk WHERE rk <= 3
       ORDER BY event_type, rk"""

  // --- q61: Holt linear-trend forecast over the daily series ----------------

  /** q61 — Holt's linear-trend exponential smoothing (Holt 1957) per
    * event_type over the q55 daily mean series: level/trend recursions
    * (α = 0.5, β = 0.25 — exact binary literals), one-step-ahead forecast
    * error (SSE accumulated IN series order, so the recursion mirrors the
    * recursive-CTE oracle step for step — the t15 EWMA precedent), and a
    * 1/2/3-day-ahead forecast from the final state. The forecasting
    * member of the time-series family: q55 fits a global robust trend,
    * q56 finds the level shift, q61 extrapolates.
    *
    * Scale shape: ONE map-side-combinable rollup touches events; the
    * recursion runs inside a single mapGroups pass per event_type over
    * the day-indexed series (grows with TIME, not volume — t15's layout:
    * for per-key-local sequential algorithms one shuffled pass is the
    * right plan, never an iterative DataFrame loop). */
  def q61HoltForecast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    holtForecast(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(ravg($"value", 6).as("y"))
      .select($"event_type",
        expr("CAST(d AS BIGINT) div 86400").as("di"), $"y"))
  }

  /** q61's core over an explicit (event_type, di, y) series — exposed so
    * the spec can replay a hand-traced 3-point recursion. */
  private[graft] def holtForecast(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    series.select($"event_type", $"di", $"y")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (et: String, it: Iterator[(String, Long, Double)]) =>
        val rows = it.toArray.sortBy(_._2)
        var l = 0.0; var b = 0.0; var sse = 0.0; var first = true
        rows.foreach { case (_, _, y) =>
          if (first) { first = false; l = y; b = 0.0 }
          else {
            val f = l + b
            val ln = 0.5 * y + 0.5 * (l + b)
            b = 0.25 * (ln - l) + 0.75 * b
            sse = sse + (y - f) * (y - f)
            l = ln
          }
        }
        (et, rows.length.toLong, l, b, sse)
      }
      .toDF("event_type", "n_days", "l", "b", "sse")
      .select($"event_type", $"n_days", r($"l", 6).as("level"),
        r($"b", 6).as("trend"),
        r($"sse" / ($"n_days" - 1).cast("double"), 6).as("mse_1step"),
        r($"l" + $"b", 6).as("fc_1"),
        r($"l" + lit(2.0) * $"b", 6).as("fc_2"),
        r($"l" + lit(3.0) * $"b", 6).as("fc_3"))
      .orderBy($"event_type")
  }

  val q61Sql: String =
    s"""WITH RECURSIVE daily AS MATERIALIZED (SELECT event_type,
         (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400) AS di,
         ${rSql(davgSql("value"), 6)} AS y
       FROM events GROUP BY event_type, date_trunc('day', ts)),
       s AS MATERIALIZED (SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY di) AS rn
       FROM daily),
       cnt AS (SELECT event_type, CAST(max(rn) AS BIGINT) AS n_days
         FROM s GROUP BY event_type),
       rec AS (
         SELECT event_type, rn, y AS l, CAST(0.0 AS DOUBLE) AS b,
           CAST(0.0 AS DOUBLE) AS sse
         FROM s WHERE rn = 1
         UNION ALL
         SELECT s.event_type, s.rn,
           0.5 * s.y + 0.5 * (rec.l + rec.b),
           0.25 * ((0.5 * s.y + 0.5 * (rec.l + rec.b)) - rec.l) + 0.75 * rec.b,
           rec.sse + (s.y - (rec.l + rec.b)) * (s.y - (rec.l + rec.b))
         FROM s JOIN rec ON s.event_type = rec.event_type AND s.rn = rec.rn + 1)
       SELECT r.event_type, c.n_days, ${rSql("r.l", 6)} AS level,
         ${rSql("r.b", 6)} AS trend,
         ${rSql("r.sse / CAST(c.n_days - 1 AS DOUBLE)", 6)} AS mse_1step,
         ${rSql("r.l + r.b", 6)} AS fc_1,
         ${rSql("r.l + 2.0 * r.b", 6)} AS fc_2,
         ${rSql("r.l + 3.0 * r.b", 6)} AS fc_3
       FROM rec r JOIN cnt c ON c.event_type = r.event_type
       WHERE r.rn = c.n_days
       ORDER BY r.event_type"""

  // --- q69: additive Holt–Winters (seasonal Holt) over the daily series -----

  /** q69 — additive Holt–Winters triple exponential smoothing (Winters
    * 1960) per event_type over q61's daily series, season length m = 7
    * (day-of-week): q61 extrapolates level+trend, q69 adds the seasonal
    * state q59 showed exists. Binary-exact smoothing literals (α = 0.5,
    * β = 0.25, γ = 0.25); first-cycle init (l₀ = the EXPLICIT
    * left-associated 7-term mean so both engines add in the same order,
    * s_j = y_j − l₀, b₀ = 0); one-step-ahead SSE accumulated in series
    * order; 1/2/3-day forecasts read the final level/trend plus the
    * wrapped seasonal. Types shorter than 8 days are dropped (no error
    * terms exist).
    *
    * Scale shape: ONE map-side-combinable rollup touches events; the
    * recursion is a single mapGroups pass per event_type over the
    * day-indexed series (t15/q61's layout — state is (l, b, s₀..s₆),
    * grows with TIME, not volume). The oracle carries the 7 seasonal
    * columns through a recursive CTE, so the whole recursion is
    * hash-checked step for step. */
  def q69HoltWinters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    holtWinters(Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(ravg($"value", 6).as("y"))
      .select($"event_type",
        expr("CAST(d AS BIGINT) div 86400").as("di"), $"y"))
  }

  /** q69's core over an explicit (event_type, di, y) series — exposed so
    * the spec can replay hand-traced periodic/constant series. */
  private[graft] def holtWinters(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    series.select($"event_type", $"di", $"y")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (et: String, it: Iterator[(String, Long, Double)]) =>
        val rows = it.toArray.sortBy(_._2)
        if (rows.length < 8) Iterator.empty
        else {
          val ys = rows.map(_._3)
          val l0 = ((((((ys(0) + ys(1)) + ys(2)) + ys(3)) + ys(4)) + ys(5)) + ys(6)) / 7.0
          val sv = Array.tabulate(7)(j => ys(j) - l0)
          var l = l0; var b = 0.0; var sse = 0.0
          var i = 7
          while (i < rows.length) {
            val y = ys(i); val p = i % 7; val sj = sv(p)
            val f = l + b + sj
            val ln = 0.5 * (y - sj) + 0.5 * (l + b)
            val bn = 0.25 * (ln - l) + 0.75 * b
            sv(p) = 0.25 * (y - ln) + 0.75 * sj
            sse = sse + (y - f) * (y - f)
            l = ln; b = bn
            i += 1
          }
          val n = rows.length
          Iterator((et, n.toLong, l, b, sse,
            l + b + sv(n % 7),
            l + 2.0 * b + sv((n + 1) % 7),
            l + 3.0 * b + sv((n + 2) % 7)))
        }
      }
      .toDF("event_type", "n_days", "l", "b", "sse", "f1", "f2", "f3")
      .select($"event_type", $"n_days", r($"l", 6).as("level"),
        r($"b", 6).as("trend"),
        r($"sse" / ($"n_days" - 7).cast("double"), 6).as("mse_1step"),
        r($"f1", 6).as("fc_1"), r($"f2", 6).as("fc_2"), r($"f3", 6).as("fc_3"))
      .orderBy($"event_type")
  }

  val q69Sql: String = {
    // the seasonal slot y at rn touches: 1-based column index ((rn−1)%7)+1
    val sel = (0 until 7).map(k => s"WHEN $k THEN rec.s${k + 1}")
      .mkString("CASE (s.rn - 1) % 7 ", " ", " END")
    val lNew = s"0.5 * (s.y - ($sel)) + 0.5 * (rec.l + rec.b)"
    val sCols = (0 until 7).map { k =>
      s"CASE WHEN (s.rn - 1) % 7 = $k THEN 0.25 * (s.y - ($lNew)) + 0.75 * rec.s${k + 1} ELSE rec.s${k + 1} END"
    }.mkString(",\n           ")
    def fcSel(h: Int) = (0 until 7).map(k => s"WHEN $k THEN r.s${k + 1}")
      .mkString(s"CASE (c.n_days + ${h - 1}) % 7 ", " ", " END")
    val y7 = (1 to 7).map(j => s"max(CASE WHEN rn = $j THEN y END) AS y$j").mkString(", ")
    s"""WITH RECURSIVE daily AS MATERIALIZED (SELECT event_type,
         (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400) AS di,
         ${rSql(davgSql("value"), 6)} AS y
       FROM events GROUP BY event_type, date_trunc('day', ts)),
       s AS MATERIALIZED (SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY di) AS rn
       FROM daily),
       cnt AS (SELECT event_type, CAST(max(rn) AS BIGINT) AS n_days
         FROM s GROUP BY event_type),
       init AS (SELECT event_type, $y7 FROM s WHERE rn <= 7 GROUP BY event_type),
       rec0 AS (SELECT event_type, 7 AS rn, l, CAST(0.0 AS DOUBLE) AS b,
           y1 - l AS s1, y2 - l AS s2, y3 - l AS s3, y4 - l AS s4,
           y5 - l AS s5, y6 - l AS s6, y7 - l AS s7,
           CAST(0.0 AS DOUBLE) AS sse
         FROM (SELECT event_type, y1, y2, y3, y4, y5, y6, y7,
             ((((((y1 + y2) + y3) + y4) + y5) + y6) + y7) / 7.0 AS l
           FROM init) z),
       rec AS (
         SELECT * FROM rec0
         UNION ALL
         SELECT s.event_type, s.rn,
           $lNew,
           0.25 * (($lNew) - rec.l) + 0.75 * rec.b,
           $sCols,
           rec.sse + (s.y - (rec.l + rec.b + ($sel))) * (s.y - (rec.l + rec.b + ($sel)))
         FROM s JOIN rec ON s.event_type = rec.event_type AND s.rn = rec.rn + 1)
       SELECT r.event_type, c.n_days, ${rSql("r.l", 6)} AS level,
         ${rSql("r.b", 6)} AS trend,
         ${rSql("r.sse / CAST(c.n_days - 7 AS DOUBLE)", 6)} AS mse_1step,
         ${rSql(s"r.l + r.b + (${fcSel(1)})", 6)} AS fc_1,
         ${rSql(s"r.l + 2.0 * r.b + (${fcSel(2)})", 6)} AS fc_2,
         ${rSql(s"r.l + 3.0 * r.b + (${fcSel(3)})", 6)} AS fc_3
       FROM rec r JOIN cnt c ON c.event_type = r.event_type
       WHERE r.rn = c.n_days AND c.n_days >= 8
       ORDER BY r.event_type"""
  }

  // --- q70: Wald–Wolfowitz runs test over the hourly series -----------------

  /** q70 — Wald–Wolfowitz runs test per event_type on the hourly means:
    * is the series random around its median, or does it trend/oscillate?
    * (Too FEW sign runs = positive autocorrelation/trending; too MANY =
    * oscillation — the nonparametric cousin of q47's ACF and the q55/q56
    * trend tools.) Median-tied hours are dropped (the standard rule);
    * runs count via one lag window over the hour order; z from the exact
    * run-count moments μ = 2n₊n₋/(n₊+n₋) + 1,
    * σ² = (μ−1)(μ−2)/(n₊+n₋−1) — all integer-derived, spelled once per
    * engine in the identical order. Types with a single sign (or too few
    * points) drop out: no variance exists to test against.
    *
    * Scale shape: one map-side-combinable hourly rollup over events;
    * everything after lives on the (type × hours) axis. */
  def q70RunsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    runsTest(Tables.events(s, dir)
      .groupBy($"event_type",
        unix_timestamp(date_trunc("hour", $"ts")).as("hx"))
      .agg(r(davg($"value"), 6).as("y")))
  }

  /** q70's core over an explicit (event_type, hx, y) hourly relation —
    * exposed so the spec can plant alternating and trending series. */
  private[graft] def runsTest(hourly: DataFrame): DataFrame = {
    val s = hourly.sparkSession
    import s.implicits._
    val h = hourly.cache() // feeds the median and the sign sequence
    val med = h.groupBy($"event_type")
      .agg(percentile($"y", lit(0.5)).as("med"))
    val w = Window.partitionBy($"event_type").orderBy($"hx")
    val runs = h.join(broadcast(med), "event_type")
      .filter($"y" =!= $"med")
      .withColumn("sgn", when($"y" > $"med", 1).otherwise(-1))
      .withColumn("chg", when(lag($"sgn", 1).over(w).isNull ||
        lag($"sgn", 1).over(w) =!= $"sgn", 1).otherwise(0))
      .groupBy($"event_type")
      .agg(sum(when($"sgn" === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when($"sgn" === -1, 1L).otherwise(0L)).as("n_neg"),
        sum($"chg").cast("long").as("n_runs"))
    runs.filter($"n_pos" > 0 && $"n_neg" > 0 && $"n_pos" + $"n_neg" > 1)
      .withColumn("mu", lit(2.0) * $"n_pos".cast("double") * $"n_neg".cast("double") /
        ($"n_pos" + $"n_neg").cast("double") + lit(1.0))
      .withColumn("v", ($"mu" - lit(1.0)) * ($"mu" - lit(2.0)) /
        ($"n_pos" + $"n_neg" - 1).cast("double"))
      .filter($"v" > 0)
      .select($"event_type", $"n_pos", $"n_neg", $"n_runs",
        r($"mu", 6).as("expected_runs"),
        r(($"n_runs".cast("double") - $"mu") / sqrt($"v"), 6).as("z"))
      .orderBy($"event_type")
  }

  val q70Sql: String =
    s"""WITH hr AS (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS y
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       md AS (SELECT event_type, quantile_cont(y, 0.5) AS med
         FROM hr GROUP BY event_type),
       sg AS (SELECT hr.event_type, hx,
           CASE WHEN y > med THEN 1 ELSE -1 END AS sgn
         FROM hr JOIN md ON md.event_type = hr.event_type
         WHERE y != med),
       ch AS (SELECT event_type, sgn,
           CASE WHEN lag(sgn, 1) OVER w IS NULL OR lag(sgn, 1) OVER w != sgn
                THEN 1 ELSE 0 END AS chg
         FROM sg WINDOW w AS (PARTITION BY event_type ORDER BY hx)),
       rn AS (SELECT event_type,
           CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(sum(chg) AS BIGINT) AS n_runs
         FROM ch GROUP BY event_type),
       st AS (SELECT event_type, n_pos, n_neg, n_runs,
           2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) / CAST(n_pos + n_neg AS DOUBLE) + 1.0 AS mu
         FROM rn WHERE n_pos > 0 AND n_neg > 0 AND n_pos + n_neg > 1),
       vv AS (SELECT event_type, n_pos, n_neg, n_runs, mu,
           (mu - 1.0) * (mu - 2.0) / CAST(n_pos + n_neg - 1 AS DOUBLE) AS v
         FROM st)
       SELECT event_type, n_pos, n_neg, n_runs,
         ${rSql("mu", 6)} AS expected_runs,
         ${rSql("(CAST(n_runs AS DOUBLE) - mu) / sqrt(v)", 6)} AS z
       FROM vv WHERE v > 0 ORDER BY event_type"""

  // --- q72: LTTB downsampling of the hourly series --------------------------

  /** q72's output size: 12 points (first + 10 bucket champions + last). */
  private val LttbT = 12

  /** q72 — Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013,
    * the Grafana/Influx visualization standard): reduce each event_type's
    * hourly series to [[LttbT]] points that preserve visual shape —
    * spikes, knees, extremes — where naive striding would erase them.
    * First/last points always kept; the middle splits into 10 equal
    * buckets; per bucket the survivor maximizes the triangle area with
    * the PREVIOUSLY selected point and the next bucket's average (a
    * sequential greedy — each choice depends on the last), ties broken
    * toward the earliest hour. Bucket-average y re-enters decimal so the
    * anchor is order-independent; the greedy itself is pure IEEE in one
    * mapGroups pass per type (t15/q61's layout). Types with ≤ 12 hours
    * emit nothing (nothing to downsample).
    *
    * The oracle replays the SAME greedy as a recursive CTE whose
    * per-step argmax is a correlated NOT-EXISTS anti-join (aggregates
    * are not allowed in a recursive term), so every selection — area
    * arithmetic, anchor construction, tie-break — is hash-checked.
    *
    * Scale shape: one map-side-combinable hourly rollup; the recursion
    * state is one point per type and buckets live on the (type × hours)
    * axis. */
  def q72LttbDownsample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lttb(Tables.events(s, dir)
      .groupBy($"event_type",
        unix_timestamp(date_trunc("hour", $"ts")).as("hx"))
      .agg(r(davg($"value"), 6).as("y")))
  }

  /** q72's core over an explicit (event_type, hx, y) series — exposed so
    * the spec can plant a spike that naive striding would miss. */
  private[graft] def lttb(series: DataFrame): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val mid = LttbT - 2
    series.select($"event_type", $"hx".cast("long"), $"y")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (et: String, it: Iterator[(String, Long, Double)]) =>
        val pts = it.toArray.sortBy(_._2)
        val n = pts.length
        if (n <= LttbT) Iterator.empty
        else {
          val buckets = Array.fill(mid)(scala.collection.mutable.ArrayBuffer.empty[(Long, Double)])
          var i = 1
          while (i <= n - 2) {
            // 1-based rn = i + 1; bucket = (rn − 2)·mid div (n − 2)
            buckets((((i - 1).toLong * mid) / (n - 2)).toInt) += ((pts(i)._2, pts(i)._3))
            i += 1
          }
          def bavg(k: Int): (Double, Double) = {
            val b = buckets(k)
            val bx = b.map(_._1).sum.toDouble / b.length
            // decimal re-entry: CAST(double AS DECIMAL(38,10)) twin
            val by = b.map(p => BigDecimal(p._2)
              .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / b.length
            (bx, by)
          }
          val out = scala.collection.mutable.ArrayBuffer[(String, Int, Long, Double)]()
          out += ((et, 0, pts(0)._2, pts(0)._3))
          var ax = pts(0)._2.toDouble; var ay = pts(0)._3
          var k = 0
          while (k < mid) {
            val (bx2, by2) =
              if (k < mid - 1) bavg(k + 1)
              else (pts(n - 1)._2.toDouble, pts(n - 1)._3)
            var bestA = -1.0; var bestHx = 0L; var bestY = 0.0
            buckets(k).foreach { case (phx, py) =>
              val px = phx.toDouble
              val ar = math.abs((ax - bx2) * (py - ay) - (ax - px) * (by2 - ay))
              if (ar > bestA) { bestA = ar; bestHx = phx; bestY = py }
            }
            out += ((et, k + 1, bestHx, bestY))
            ax = bestHx.toDouble; ay = bestY
            k += 1
          }
          out += ((et, mid + 1, pts(n - 1)._2, pts(n - 1)._3))
          out.iterator
        }
      }
      .toDF("event_type", "sel", "hx", "y")
      .orderBy($"event_type", $"sel")
  }

  val q72Sql: String = {
    def ar(px: String, py: String) =
      s"abs((rec.sxd - a.bx) * (($py) - rec.sy) - (rec.sxd - ($px)) * (a.by2 - rec.sy))"
    s"""WITH RECURSIVE hr AS MATERIALIZED (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS y
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       s AS MATERIALIZED (SELECT event_type, hx, y,
         row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn
       FROM hr),
       cnt AS (SELECT event_type, CAST(max(rn) AS BIGINT) AS n
         FROM s GROUP BY event_type),
       big AS MATERIALIZED (SELECT s.event_type, s.hx, s.y, s.rn, cnt.n
         FROM s JOIN cnt USING (event_type) WHERE n > $LttbT),
       mid AS MATERIALIZED (SELECT event_type, hx, CAST(hx AS DOUBLE) AS hxd, y,
           CAST(((rn - 2) * ${LttbT - 2}) // (n - 2) AS BIGINT) AS k
         FROM big WHERE rn >= 2 AND rn <= n - 1),
       bavg AS (SELECT event_type, k,
           CAST(CAST(sum(hx) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bx,
           ${davgSql("y")} AS by2
         FROM mid GROUP BY event_type, k),
       lastp AS (SELECT event_type, hx, CAST(hx AS DOUBLE) AS bx, y AS by2, y
         FROM big WHERE rn = n),
       anch AS (SELECT event_type, k - 1 AS k, bx, by2 FROM bavg WHERE k >= 1
                UNION ALL
                SELECT event_type, ${LttbT - 3} AS k, bx, by2 FROM lastp),
       firstp AS (SELECT event_type, hx, CAST(hx AS DOUBLE) AS hxd, y
         FROM big WHERE rn = 1),
       rec AS (
         SELECT event_type, -1 AS k, hx AS shx, hxd AS sxd, y AS sy FROM firstp
         UNION ALL
         SELECT m.event_type, rec.k + 1, m.hx, m.hxd, m.y
         FROM rec
         JOIN anch a ON a.event_type = rec.event_type AND a.k = rec.k + 1
         JOIN mid m ON m.event_type = rec.event_type AND m.k = rec.k + 1
         WHERE NOT EXISTS (
           SELECT 1 FROM mid q
           WHERE q.event_type = m.event_type AND q.k = m.k
             AND (${ar("q.hxd", "q.y")} > ${ar("m.hxd", "m.y")}
               OR (${ar("q.hxd", "q.y")} = ${ar("m.hxd", "m.y")} AND q.hx < m.hx))))
       SELECT event_type, CAST(sel AS INTEGER) AS sel, hx, y FROM (
         SELECT event_type, 0 AS sel, hx, y FROM firstp
         UNION ALL
         SELECT event_type, k + 1 AS sel, shx AS hx, sy AS y FROM rec WHERE k >= 0
         UNION ALL
         SELECT event_type, ${LttbT - 1} AS sel, hx, y FROM lastp) u
       ORDER BY event_type, sel"""
  }

  // --- q59: additive seasonal decomposition of the event stream -------------

  /** q59 — additive seasonal decomposition per event_type: value ≈ mean +
    * hour-of-day effect + day-of-week effect, with the variance explained
    * (R²) by the two seasonal profiles — the load-shape diagnostic behind
    * capacity planning and anomaly baselines (q47's ACF tells you THAT
    * seasonality exists; q59 extracts the profile). Everything derives
    * from ONE (event_type, hod, dow) cell aggregation: the residual
    * variance needs no second scan because the fitted value m+eₕ+e_d is
    * constant within a cell, so E[(v−fit)²] = Σ_c (s2_c − 2μ_c s1_c +
    * n_c μ_c²)/N — pure cell algebra. Weekday index is Monday=0 in both
    * engines (Spark weekday ↔ DuckDB isodow−1); all sums decimal-exact.
    *
    * Scale shape: one map-side-combinable aggregation touches events;
    * the cell frame is ≤ 168 rows per type forever after. */
  def q59SeasonalDecomp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    seasonalDecomp(Tables.events(s, dir)
      .select($"event_type", hour($"ts").cast("long").as("hod"),
        expr("CAST(weekday(ts) AS BIGINT)").as("dow"), $"value"))
  }

  /** q59's core over an explicit (event_type, hod, dow, value) relation —
    * exposed so the spec can plant a pure two-factor signal (R² = 1) and
    * a flat series (all effects 0). */
  private[graft] def seasonalDecomp(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val cells = ev.groupBy($"event_type", $"hod", $"dow")
      .agg(count(lit(1)).as("n"), dsum($"value").as("s1"),
        dsum($"value" * $"value").as("s2"))
      .cache() // ≤ 168 rows per type; feeds every table below
    val tot = cells.groupBy($"event_type")
      .agg(sum($"n").as("nn"), dsum($"s1").as("ts1"), dsum($"s2").as("ts2"))
      .select($"event_type", $"nn", ($"ts1" / $"nn".cast("double")).as("m"),
        ($"ts2" / $"nn".cast("double")).as("ev2"))
    val hod = cells.groupBy($"event_type", $"hod")
      .agg(sum($"n").as("nh"), dsum($"s1").as("hs1"))
      .join(broadcast(tot), "event_type")
      .select($"event_type", $"hod", $"nh",
        ($"hs1" / $"nh".cast("double") - $"m").as("eh"))
    val dow = cells.groupBy($"event_type", $"dow")
      .agg(sum($"n").as("nd"), dsum($"s1").as("ds1"))
      .join(broadcast(tot), "event_type")
      .select($"event_type", $"dow", $"nd",
        ($"ds1" / $"nd".cast("double") - $"m").as("ed"))
    val fitted = cells
      .join(broadcast(hod.select($"event_type", $"hod", $"eh")), Seq("event_type", "hod"))
      .join(broadcast(dow.select($"event_type", $"dow", $"ed")), Seq("event_type", "dow"))
      .join(broadcast(tot), "event_type")
      .withColumn("mu", $"m" + $"eh" + $"ed")
      .groupBy($"event_type")
      .agg(dsum($"s2" - lit(2.0) * $"mu" * $"s1" +
        $"n".cast("double") * $"mu" * $"mu").as("sr"),
        min($"nn").as("nn0"), min($"m").as("m0"), min($"ev2").as("ev20"))
      .select($"event_type",
        ($"ev20" - $"m0" * $"m0").as("var_total"),
        ($"sr" / $"nn0".cast("double")).as("var_resid"))
      .select($"event_type", r($"var_total", 6).as("var_total"),
        r($"var_resid", 6).as("var_resid"),
        r(lit(1.0) - $"var_resid" / $"var_total", 6).as("r2"))
    val eff = hod.select($"event_type", lit("hod").as("kind"), $"hod".as("idx"),
        $"nh".as("n_obs"), r($"eh", 6).as("effect"))
      .unionByName(dow.select($"event_type", lit("dow").as("kind"),
        $"dow".as("idx"), $"nd".as("n_obs"), r($"ed", 6).as("effect")))
    val out = eff.join(broadcast(fitted), "event_type")
      .select($"event_type", $"kind", $"idx", $"n_obs", $"effect",
        $"var_total", $"var_resid", $"r2")
      .orderBy($"event_type", $"kind", $"idx")
      .localCheckpoint(true)
    cells.unpersist(blocking = false)
    out
  }

  val q59Sql: String =
    s"""WITH cells AS MATERIALIZED (SELECT event_type,
         CAST(extract(hour FROM ts) AS BIGINT) AS hod,
         CAST(isodow(ts) - 1 AS BIGINT) AS dow,
         count(*) AS n, ${dsumSql("value")} AS s1,
         ${dsumSql("value * value")} AS s2
       FROM events GROUP BY 1, 2, 3),
       tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nn,
         ${dsumSql("s1")} / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS m,
         ${dsumSql("s2")} / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS ev2
       FROM cells GROUP BY event_type),
       hod AS (SELECT c.event_type, hod, CAST(sum(n) AS BIGINT) AS nh,
         ${dsumSql("s1")} / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) - min(t.m) AS eh
       FROM cells c JOIN tot t ON t.event_type = c.event_type
       GROUP BY c.event_type, hod),
       dw AS (SELECT c.event_type, dow, CAST(sum(n) AS BIGINT) AS nd,
         ${dsumSql("s1")} / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) - min(t.m) AS ed
       FROM cells c JOIN tot t ON t.event_type = c.event_type
       GROUP BY c.event_type, dow),
       fitted AS (SELECT c.event_type,
         ${rSql("min(t.ev2) - min(t.m) * min(t.m)", 6)} AS var_total,
         ${rSql(s"${dsumSql("s2 - CAST(2.0 AS DOUBLE) * (t.m + h.eh + d.ed) * s1 + CAST(n AS DOUBLE) * (t.m + h.eh + d.ed) * (t.m + h.eh + d.ed)")} / CAST(min(t.nn) AS DOUBLE)", 6)} AS var_resid
       FROM cells c
       JOIN hod h ON h.event_type = c.event_type AND h.hod = c.hod
       JOIN dw d ON d.event_type = c.event_type AND d.dow = c.dow
       JOIN tot t ON t.event_type = c.event_type
       GROUP BY c.event_type),
       eff AS (SELECT event_type, 'hod' AS kind, hod AS idx, nh AS n_obs,
           ${rSql("eh", 6)} AS effect FROM hod
         UNION ALL
         SELECT event_type, 'dow' AS kind, dow AS idx, nd AS n_obs,
           ${rSql("ed", 6)} AS effect FROM dw)
       SELECT e.event_type, e.kind, e.idx, e.n_obs, e.effect,
         f.var_total, f.var_resid,
         ${rSql("CAST(1.0 AS DOUBLE) - f.var_resid / f.var_total", 6)} AS r2
       FROM eff e JOIN fitted f ON f.event_type = e.event_type
       ORDER BY e.event_type, e.kind, e.idx"""

  // --- q58: Markov transition matrix over per-user event sequences ----------

  /** q58 — first-order Markov transition matrix of event types: for each
    * user's (ts, event_id)-ordered stream, count consecutive (src → dst)
    * pairs, then report the conditional probability p = n/Σ_src n and the
    * lift over the destination's marginal share — the behavioral-model
    * primitive behind next-event prediction and funnel anomaly detection
    * (pairs never cross a user boundary). Counts are exact; the two
    * ratios are pure IEEE on integer-derived doubles.
    *
    * Scale shape: one shuffle on user_id produces the lagged pairs; the
    * cell table is |types|²-sized, so the probability/lift windows run
    * over a handful of rows regardless of corpus size. */
  def q58Markov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    markov(Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type"))
  }

  /** q58's core over an explicit (user_id, ts, event_id, event_type)
    * stream — exposed so the spec can plant a branching chain with
    * hand-counted transitions and prove user-boundary isolation. */
  private[graft] def markov(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cells = ev
      .withColumn("dst_type", lead($"event_type", 1).over(w))
      .filter($"dst_type".isNotNull)
      .groupBy($"event_type".as("src_type"), $"dst_type")
      .agg(count(lit(1)).as("n_pairs"))
    cells
      .withColumn("tot_src", sum($"n_pairs").over(Window.partitionBy($"src_type")))
      .withColumn("tot_dst", sum($"n_pairs").over(Window.partitionBy($"dst_type")))
      .withColumn("tot_all", sum($"n_pairs").over(Window.partitionBy()))
      .select($"src_type", $"dst_type", $"n_pairs",
        r($"n_pairs".cast("double") / $"tot_src".cast("double"), 6).as("p"),
        r(($"n_pairs".cast("double") / $"tot_src".cast("double")) /
          ($"tot_dst".cast("double") / $"tot_all".cast("double")), 6).as("lift"))
      .orderBy($"src_type", $"dst_type")
  }

  val q58Sql: String =
    s"""WITH pairs AS (SELECT event_type AS src_type,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
       FROM events),
       cells AS (SELECT src_type, dst_type, count(*) AS n_pairs
         FROM pairs WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type),
       m AS (SELECT src_type, dst_type, n_pairs,
         sum(n_pairs) OVER (PARTITION BY src_type) AS tot_src,
         sum(n_pairs) OVER (PARTITION BY dst_type) AS tot_dst,
         sum(n_pairs) OVER () AS tot_all
       FROM cells)
       SELECT src_type, dst_type, n_pairs,
         ${rSql("CAST(n_pairs AS DOUBLE) / CAST(tot_src AS DOUBLE)", 6)} AS p,
         ${rSql("(CAST(n_pairs AS DOUBLE) / CAST(tot_src AS DOUBLE)) / (CAST(tot_dst AS DOUBLE) / CAST(tot_all AS DOUBLE))", 6)} AS lift
       FROM m ORDER BY src_type, dst_type"""

  // --- q57: Gini concentration audit over order spend -----------------------

  /** Shared Gini expression text over (n, sx, srx): the rank-sum identity
    * G = 2·Σ r·x / (n·Σx) − (n+1)/n (ranks 1..n ascending in x). Tied x
    * values contribute x·Σranks whichever way the unique-key tie-break
    * orders them, so the statistic is tie-break-invariant. */
  private val GiniExpr =
    "(2.0 * srx) / (CAST(n AS DOUBLE) * sx) - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)"

  /** q57 — Gini coefficient + top-decile concentration of order spend per
    * market segment: the inequality audit ("how concentrated is revenue?")
    * next to q42's histogram and q33's percentiles. Exact ranks over the
    * unique (x, o_orderkey) pair; Σx and Σr·x decimal-exact, final ratios
    * pure IEEE.
    *
    * Scale shape (r9 — the per-segment GLOBAL sort is gone): `seg` has ~5
    * values, so a bare `row_number() OVER (PARTITION BY seg)` serializes
    * each segment's whole sort onto one task (the q36 low-cardinality-key
    * lesson). Instead, ranks are computed distributively: equi-width value
    * buckets (q68's bucket formula — a FUNCTION of x, so tied x never
    * straddle buckets and the composed (bucket, x, k) order is bit-equal
    * to the global (x, k) order), one tiny (seg, bucket) count table whose
    * prefix sums are each bucket's rank offset, then rank = offset +
    * row_number within (seg, bucket) — parallelism seg×32 instead of seg.
    * Identical values, identical oracle; the base relation is scanned
    * 3× (bounds, counts, ranked pass), each a cheap pushed-down scan —
    * the 100 TB trade is 3 scans for seg×32-way sort parallelism. The
    * map-side-only sibling for when approximate Gini suffices remains
    * q68's histogram-Lorenz. */
  def q57Gini(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gini(Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), $"o_orderkey".as("k"),
        $"o_totalprice".as("x")))
  }

  /** q57's core over an explicit (seg, k, x) relation with unique k —
    * exposed so the spec can plant uniform (G=0) and single-holder
    * (G=(n−1)/n) segments. */
  private[graft] def gini(amounts: DataFrame): DataFrame = {
    val s = amounts.sparkSession
    import s.implicits._
    val b = lit(32.0)
    val bounds = amounts.groupBy($"seg").agg(min($"x").as("lo"), max($"x").as("hi"))
    val bucketed = amounts.join(broadcast(bounds), "seg")
      .withColumn("bucket",
        when($"hi" === $"lo", lit(1))
          .otherwise(least(b, lit(1.0) +
            floor(($"x" - $"lo") / (($"hi" - $"lo") / b))).cast("int")))
      .select($"seg", $"k", $"x", $"bucket")
    // rank offsets: prefix-summed bucket counts (≤ seg×32 rows — the only
    // window over a LOW-cardinality partition runs on this tiny table)
    val wOff = Window.partitionBy($"seg").orderBy($"bucket")
    val offs = bucketed.groupBy($"seg", $"bucket").agg(count(lit(1)).as("cb"))
      .withColumn("off", coalesce(
        sum($"cb").over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("nw", sum($"cb").over(Window.partitionBy($"seg")))
      .select($"seg", $"bucket", $"off", $"nw")
    val wLocal = Window.partitionBy($"seg", $"bucket").orderBy($"x", $"k")
    bucketed.join(broadcast(offs), Seq("seg", "bucket"))
      .withColumn("rk", $"off" + row_number().over(wLocal).cast("long"))
      .groupBy($"seg")
      .agg(max($"rk").as("n"),
        dsum($"x").as("sx"),
        dsum($"rk".cast("double") * $"x").as("srx"),
        dsum(when($"rk" > $"nw" - expr("nw DIV 10"), $"x")).as("stop"))
      .select($"seg", $"n".as("n_orders"), r($"sx", 2).as("total_spend"),
        r(expr(GiniExpr), 6).as("gini"),
        r($"stop" / $"sx", 6).as("top10_share"))
      .orderBy($"seg")
  }

  val q57Sql: String =
    s"""WITH base AS (SELECT c.c_mktsegment AS seg, o.o_orderkey AS k,
         o.o_totalprice AS x
       FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
       rk AS (SELECT seg, x,
         row_number() OVER (PARTITION BY seg ORDER BY x, k) AS rk,
         count(*) OVER (PARTITION BY seg) AS nw
       FROM base),
       m AS (SELECT seg, CAST(max(rk) AS BIGINT) AS n,
         ${dsumSql("x")} AS sx,
         ${dsumSql("CAST(rk AS DOUBLE) * x")} AS srx,
         ${dsumSql("CASE WHEN rk > nw - nw // 10 THEN x END")} AS stop
       FROM rk GROUP BY seg)
       SELECT seg, n AS n_orders, ${rSql("sx", 2)} AS total_spend,
         ${rSql(GiniExpr, 6)} AS gini,
         ${rSql("stop / sx", 6)} AS top10_share
       FROM m ORDER BY seg"""

  // --- q68: histogram-Lorenz Gini (q57's map-side scale sibling) ------------

  /** q68's bucket count — q42's equi-width granularity. */
  private val LorenzBuckets = 20

  /** q68 — Gini concentration from the Lorenz trapezoid over a per-segment
    * [[LorenzBuckets]]-bucket equi-width histogram: the documented 100 TB
    * drop-in for q57's exact rank-sum Gini (q57 scaladoc). Exact Gini
    * inherently sorts every row through the segment key; this form needs
    * only one per-segment min/max aggregate (broadcast back), scan-local
    * bucket assignment (q42's formula, max folded into the top bucket,
    * degenerate hi = lo segments collapsing to bucket 1), and one
    * map-side-combinable (seg, bucket) count/sum aggregation — the only
    * window left runs over the ≤20-row bucket axis per segment.
    *
    * Trapezoid identity G = 1 − Σ_b (F_b − F_{b−1})·(L_b + L_{b−1}) with
    * F/L the cumulative population/spend shares at the bucket's upper
    * edge; absent buckets contribute exactly zero (F and L are flat across
    * them). Cumulative sums stay decimal-exact; each bucket term is pure
    * deterministic IEEE; the ≤20-term sum re-enters decimal so its order
    * never matters. Singleton buckets make the trapezoid EQUAL the
    * rank-sum Gini (algebraic identity, spec-pinned); within-bucket spread
    * is convexified away, so q68 ≤ q57 always, with error bounded by the
    * within-bucket inequality (spec-pinned on planted distributions). */
  def q68GiniHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    giniHist(Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), $"o_totalprice".as("x")))
  }

  /** q68's core over an explicit (seg, x) relation — exposed so the spec
    * can compare against [[gini]] on planted distributions. */
  private[graft] def giniHist(amounts0: DataFrame): DataFrame = {
    val s = amounts0.sparkSession
    import s.implicits._
    // TWO consumers (per-seg bounds + the bucketed histogram) would each
    // re-evaluate the upstream join (invariant 5) — pin it once
    val amounts = amounts0.select($"seg", $"x").localCheckpoint(true)
    val b = lit(LorenzBuckets.toDouble)
    val bounds = amounts.groupBy($"seg")
      .agg(min($"x").as("lo"), max($"x").as("hi"))
    val hist = amounts.join(broadcast(bounds), "seg")
      .withColumn("bucket",
        when($"hi" === $"lo", lit(1))
          .otherwise(least(b, lit(1.0) +
            floor(($"x" - $"lo") / (($"hi" - $"lo") / b))).cast("int")))
      .groupBy($"seg", $"bucket")
      .agg(count(lit(1)).as("nb"), sum($"x".cast("decimal(38,10)")).as("sb"))
    val wc = Window.partitionBy($"seg").orderBy($"bucket")
    val ws = Window.partitionBy($"seg")
    hist
      .withColumn("cums", sum($"sb").over(wc))
      .withColumn("nn", sum($"nb").over(ws))
      .withColumn("ss", sum($"sb").over(ws))
      .withColumn("term",
        ($"nb".cast("double") / $"nn".cast("double")) *
          ((lit(2.0) * $"cums".cast("double") - $"sb".cast("double")) /
            $"ss".cast("double")))
      .groupBy($"seg")
      .agg(sum($"nb").as("n_orders"),
        r(sum($"sb").cast("double"), 2).as("total_spend"),
        r(lit(1.0) - dsum($"term"), 6).as("gini_hist"))
      .orderBy($"seg")
  }

  val q68Sql: String =
    s"""WITH base AS (SELECT c.c_mktsegment AS seg, o.o_totalprice AS x
         FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
       bnd AS (SELECT seg, min(x) AS lo, max(x) AS hi FROM base GROUP BY seg),
       bk AS (SELECT base.seg,
           CASE WHEN hi = lo THEN 1
                ELSE CAST(least(20.0, 1.0 + floor((x - lo) / ((hi - lo) / 20.0))) AS INTEGER)
           END AS bucket, x
         FROM base JOIN bnd ON bnd.seg = base.seg),
       hb AS (SELECT seg, bucket, count(*) AS nb,
           sum(CAST(x AS DECIMAL(38,10))) AS sb
         FROM bk GROUP BY seg, bucket),
       cm AS (SELECT seg, bucket, nb, sb,
           sum(sb) OVER (PARTITION BY seg ORDER BY bucket) AS cums,
           sum(nb) OVER (PARTITION BY seg) AS nn,
           sum(sb) OVER (PARTITION BY seg) AS ss
         FROM hb),
       tm AS (SELECT seg, nb, sb,
           (CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE)) *
           ((2.0 * CAST(cums AS DOUBLE) - CAST(sb AS DOUBLE)) / CAST(ss AS DOUBLE)) AS term
         FROM cm)
       SELECT seg, CAST(sum(nb) AS BIGINT) AS n_orders,
         ${rSql("CAST(sum(sb) AS DOUBLE)", 2)} AS total_spend,
         ${rSql(s"1.0 - ${dsumSql("term")}", 6)} AS gini_hist
       FROM tm GROUP BY seg ORDER BY seg"""

  // --- q53: Benford first-digit distribution audit --------------------------

  /** Benford P(d) = log10(1 + 1/d), d = 1..9 — literal doubles identical in
    * both engines (DuckDB VALUES get an explicit DOUBLE cast; a bare decimal
    * literal there would be DECIMAL). */
  private val BenfordP = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  /** Shared χ² contribution text: nn (total count) / os (observed share) are
    * integer-derived doubles, p the literal expectation. */
  private val BenfordChi = "nn * (os - p) * (os - p) / p"

  /** q53 — Benford's-law audit of the order amounts: the fraud/synthetic-data
    * detector ("do the first significant digits follow log10(1+1/d)?").
    * The digit is taken portably from the cent-exact integer amount
    * (floor(x·100 + 0.5) → first character of its decimal string — no
    * floating log10, whose last-ulp behavior differs between libm and the
    * JVM), counted in one map-side-combinable pass, and laid over the
    * 9-row literal expectation table so absent digits still report a row.
    * Per-digit χ² contributions n·(p̂−p)²/p use one shared expression text.
    * At 100 TB the cost is the single count scan; the audit is free. */
  def q53Benford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    benford(Tables.orders(s, dir).select($"o_totalprice".as("x")))
  }

  /** q53's core over an explicit (x) amount relation — exposed so the spec
    * can plant digit-skewed samples with hand-computed shares. */
  private[graft] def benford(amounts: DataFrame): DataFrame = {
    val s = amounts.sparkSession
    import s.implicits._
    val obs = amounts
      .select(substring(floor($"x" * 100 + 0.5).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum($"n_obs").as("n"))
    val exp = BenfordP.toDF("digit", "p")
    exp.join(obs, Seq("digit"), "left")
      .select($"digit".cast("long").as("digit"), $"p",
        coalesce($"n_obs", lit(0L)).as("n_obs"))
      .crossJoin(broadcast(tot))
      .select($"digit", $"n_obs", $"p",
        $"n".cast("double").as("nn"),
        ($"n_obs".cast("double") / $"n".cast("double")).as("os"))
      .select($"digit", $"n_obs",
        r($"os", 6).as("obs_share"), r($"p", 6).as("exp_share"),
        r(expr(BenfordChi), 6).as("chi2_term"))
      .orderBy($"digit")
  }

  val q53Sql: String = {
    val values = BenfordP
      .map { case (d, p) => s"($d, CAST($p AS DOUBLE))" }.mkString(", ")
    s"""WITH amt AS (SELECT o_totalprice AS x FROM orders),
       obs AS (SELECT CAST(substr(CAST(CAST(floor(x * 100.0 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         count(*) AS n_obs
       FROM amt GROUP BY 1),
       tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
       exp AS (SELECT * FROM (VALUES $values) t(digit, p))
       SELECT digit, n_obs, ${rSql("os", 6)} AS obs_share,
         ${rSql("p", 6)} AS exp_share, ${rSql(BenfordChi, 6)} AS chi2_term
       FROM (SELECT CAST(e.digit AS BIGINT) AS digit,
         coalesce(o.n_obs, 0) AS n_obs, e.p,
         CAST(t.n AS DOUBLE) AS nn,
         CAST(coalesce(o.n_obs, 0) AS DOUBLE) / CAST(t.n AS DOUBLE) AS os
       FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t) z
       ORDER BY digit"""
  }

  // --- q52: pairwise Mann–Whitney U rank-sum test ---------------------------

  /** q52 — tie-corrected Mann–Whitney U (Wilcoxon rank-sum) between every
    * pair of sources on the per-doc token count: the nonparametric location
    * test that complements q49 (mean shift under normality) and q51 (any
    * distribution shift). `u_stat` counts the pairs where the a-side value
    * wins (#\{(xa, xb) : xa > xb\} + ½·ties); `z` is the normal
    * approximation with the standard tie correction
    * σ² = (nA·nB/12)·((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Everything until the final z is exact integer arithmetic on the q51
    * count-table shape (2U stays a BIGINT, so no double sum can reorder):
    * one (source, value) count aggregation touches the corpus; U comes from
    * cumulative counts over the shared value axis; the z formula is one
    * shared expression text evaluated on integer-derived doubles, so the
    * IEEE ops mirror exactly. Scale cost = the one count scan. */
  def q52MannWhitneyU(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mannWhitneyU(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** Shared z text: inputs na/nb/tt are integer-derived doubles, u2 = 2U a
    * BIGINT — identical IEEE evaluation order in both engines. */
  private val MwZ =
    "(u2 / 2.0 - na * nb / 2.0) / sqrt(na * nb / 12.0 * " +
      "((na + nb + 1.0) - tt / ((na + nb) * (na + nb - 1.0))))"

  /** q52's core over an explicit (source, x) relation — exposed so the spec
    * can plant samples with a hand-computed U and z. */
  private[graft] def mannWhitneyU(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    // NULL metric values would rank NULLS FIRST in Spark's window but
    // NULLS LAST in DuckDB's ASC default — drop them on both sides so the
    // rank construction is null-robust, not just null-absent.
    val cnt = metric.filter($"x".isNotNull)
      .groupBy($"source", $"x").agg(count(lit(1)).as("c"))
      .cache() // feeds the value axis, the per-source totals, and the grid
    val vals = cnt.select($"x").distinct()
    val srcn = cnt.groupBy($"source").agg(sum($"c").as("n"))
    val grid = srcn.crossJoin(broadcast(vals))
      .join(cnt, Seq("source", "x"), "left")
      .select($"source", $"n", $"x", coalesce($"c", lit(0L)).as("c"))
      .withColumn("cum",
        sum($"c").over(Window.partitionBy($"source").orderBy($"x")))
    val a = grid.select($"source".as("source_a"), $"n".as("n_a"),
      $"x", $"c".as("ca"))
    val b = grid.select($"source".as("source_b"), $"n".as("n_b"),
      $"x", $"c".as("cb"), $"cum".as("cumb"))
    val out = a.join(b, Seq("x")).filter($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b")
      .agg(min($"n_a").as("n_a"), min($"n_b").as("n_b"),
        // 2U = Σ cA·(2·(#B below) + #B tied) — exact BIGINT
        sum($"ca" * (($"cumb" - $"cb") * 2 + $"cb")).as("u2"),
        // pooled tie term Σ(t³ − t), t = per-value pooled count
        sum(($"ca" + $"cb") * ($"ca" + $"cb") * ($"ca" + $"cb")
          - ($"ca" + $"cb")).as("tt"))
      .select($"source_a", $"source_b", $"n_a", $"n_b",
        $"n_a".cast("double").as("na"), $"n_b".cast("double").as("nb"),
        // u2 ≤ 2·nA·nB < 2^53 at any realistic per-source count → exact
        $"u2".cast("double").as("u2"), $"tt".cast("double").as("tt"))
      .select($"source_a", $"source_b", $"n_a", $"n_b",
        ($"u2" / 2.0).as("u_stat"),
        r(expr(MwZ), 6).as("z"))
      .orderBy($"source_a", $"source_b")
      .localCheckpoint(true)
    cnt.unpersist(blocking = false)
    out
  }

  val q52Sql: String =
    s"""WITH cnt AS MATERIALIZED (SELECT source, x, count(*) AS c
       FROM (SELECT source, len(${TextOps.toksSql("lower(text)")}) AS x
             FROM documents) z
       WHERE x IS NOT NULL
       GROUP BY source, x),
       vals AS (SELECT DISTINCT x FROM cnt),
       srcn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
       grid AS (SELECT s.source, s.n, v.x, coalesce(c.c, 0) AS c,
         CAST(sum(coalesce(c.c, 0)) OVER (PARTITION BY s.source ORDER BY v.x) AS BIGINT) AS cum
         FROM srcn s CROSS JOIN vals v
         LEFT JOIN cnt c ON c.source = s.source AND c.x = v.x),
       pair AS (SELECT a.source AS source_a, b.source AS source_b,
         min(a.n) AS n_a, min(b.n) AS n_b,
         CAST(sum(a.c * ((b.cum - b.c) * 2 + b.c)) AS BIGINT) AS u2,
         CAST(sum((a.c + b.c) * (a.c + b.c) * (a.c + b.c) - (a.c + b.c)) AS BIGINT) AS tt
       FROM grid a JOIN grid b ON a.x = b.x AND a.source < b.source
       GROUP BY a.source, b.source)
       SELECT source_a, source_b, n_a, n_b, u2 / 2.0 AS u_stat,
         ${rSql(MwZ, 6)} AS z
       FROM (SELECT source_a, source_b, n_a, n_b,
         CAST(u2 AS DOUBLE) AS u2,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(tt AS DOUBLE) AS tt FROM pair) p
       ORDER BY source_a, source_b"""

  // --- q67: time-lag feature builder over the hourly series -----------------

  /** q67 — the feature-store query: per (event_type, hour), the supervised-
    * learning features a forecasting/anomaly model trains on — time-lagged
    * values at 1 h and 24 h (JOIN-based, so a silent hour yields NULL
    * instead of silently lagging to the wrong hour — the classic row-lag
    * bug `lag()` would commit on gappy series), the hour-over-hour delta,
    * and the trailing-24 h mean over PRESENT hours (t11/t21's integer-hour
    * RANGE frame with the decimal window sum). This is what "build the
    * training matrix" looks like as a declarative plan.
    *
    * Scale shape: one map-side-combinable rollup touches events; the lag
    * joins and RANGE window run on the hour series (grows with time, not
    * volume), keyed by (event_type, hx) — co-partitioned, no skew. */
  def q67LagFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = Tables.events(s, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hh"))
      .agg(count(lit(1)).as("n"), ravg($"value", 6).as("x"))
      .select($"event_type", ($"hh".cast("long") / 3600).cast("long").as("hx"),
        $"n", $"x")
      .cache() // self-joined twice below — don't re-aggregate events 3x
    val l1 = h.select($"event_type", ($"hx" + 1).as("hx"), $"x".as("lag1_x"))
    val l24 = h.select($"event_type", ($"hx" + 24).as("hx"), $"x".as("lag24_x"))
    val w = Window.partitionBy($"event_type").orderBy($"hx")
      .rangeBetween(-23, 0)
    val out = h.join(l1, Seq("event_type", "hx"), "left")
      .join(l24, Seq("event_type", "hx"), "left")
      .withColumn("nz24", count($"x").over(w))
      .withColumn("s24", sum($"x".cast("decimal(38,10)")).over(w).cast("double"))
      .select($"event_type", $"hx", $"n", $"x", $"lag1_x", $"lag24_x",
        r($"x" - $"lag1_x", 6).as("d1"),
        r($"s24" / $"nz24".cast("double"), 6).as("ma24_x"), $"nz24")
      .orderBy($"event_type", $"hx")
      .localCheckpoint(true)
    h.unpersist(blocking = false)
    out
  }

  val q67Sql: String =
    s"""WITH h AS MATERIALIZED (SELECT event_type,
         CAST(CAST(epoch(date_trunc('hour', ts)) AS BIGINT) / 3600 AS BIGINT) AS hx,
         count(*) AS n, ${rSql(davgSql("value"), 6)} AS x
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       wn AS (SELECT event_type, hx, n, x,
           count(x) OVER (PARTITION BY event_type ORDER BY hx
             RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS nz24,
           CAST(sum(CAST(x AS DECIMAL(38,10))) OVER (PARTITION BY event_type
             ORDER BY hx RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS DOUBLE) AS s24
         FROM h)
       SELECT w.event_type, w.hx, w.n, w.x, l1.x AS lag1_x, l24.x AS lag24_x,
         ${rSql("w.x - l1.x", 6)} AS d1,
         ${rSql("s24 / CAST(nz24 AS DOUBLE)", 6)} AS ma24_x, nz24
       FROM wn w
       LEFT JOIN h l1 ON l1.event_type = w.event_type AND l1.hx = w.hx - 1
       LEFT JOIN h l24 ON l24.event_type = w.event_type AND l24.hx = w.hx - 24
       ORDER BY w.event_type, w.hx"""

  // --- q66: Kruskal–Wallis rank test across all sources ---------------------

  /** Shared statistic texts over exact-integer-derived doubles: s2 is the
    * decimal-exact Σᵢ Rᵢ²/nᵢ, nn = N, tt = Σ(t³−t), kk = #groups. */
  private val KwH = "12.0 / (nn * (nn + 1.0)) * s2 - 3.0 * (nn + 1.0)"
  private val KwHAdj = s"($KwH) / (1.0 - tt / (nn * nn * nn - nn))"
  private val KwEta2 = s"(($KwH) - kk + 1.0) / (nn - kk)"

  /** q66 — tie-corrected Kruskal–Wallis H across ALL sources on the
    * per-doc token count: the k-group generalization of q52's pairwise
    * Mann–Whitney (one omnibus "do any sources differ in location?"
    * before pairwise drill-down), plus the η²_H effect size
    * (H − k + 1)/(N − k). Ranks come from the q52 count-table shape:
    * one (source, value) count aggregation, pooled counts per value with
    * a cumulative window over the bounded value axis, and the midrank
    * ×2 identity 2·r̄(v) = 2·(#below) + t + 1 — so every per-source rank
    * sum is an exact BIGINT (2R). Σᵢ Rᵢ²/nᵢ crosses sources through the
    * decimal-sum policy (k tiny but the policy is unconditional), and
    * H / the tie correction / η² are shared expression texts over
    * exact-integer-derived doubles. Output: one row per source with its
    * midrank mean, the global H/H_adj/η² on every row.
    *
    * Scale shape: the corpus is touched by ONE map-side-combinable count;
    * everything after lives on the value axis (bounded by distinct metric
    * values) and the k-row source table. */
  def q66KruskalWallis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kruskalWallis(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** The shared rank machinery q66's omnibus AND q116's post-hoc build
    * on (they cannot drift): a cached (source, x) count table, the
    * pooled 2·midrank value axis `pc(x, t, r2)`, and the per-source
    * rank sums `per(source, n, r2sum)` — every column an exact integer.
    * The CALLER unpersists the returned count table. */
  private[graft] def kwRankTables(metric: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val s = metric.sparkSession
    import s.implicits._
    // NULL metric values would diverge between engines on the pooled
    // cumulative window (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST) —
    // drop them on both sides (q52's fix, same rank-table shape).
    val cnt = metric.filter($"x".isNotNull)
      .groupBy($"source", $"x").agg(count(lit(1)).as("c"))
      .cache() // feeds the pooled value axis and the per-source rank sums
    // global-window AUDIT (r15): pooled DISTINCT metric values — the
    // bounded value axis (integer token counts / rounded metrics), not
    // corpus rows; the midrank sweep is a sorted prefix over that axis.
    val pc = cnt.groupBy($"x").agg(sum($"c").as("t"))
      .withColumn("cum", sum($"t").over(Window.orderBy($"x")))
      // 2·midrank(v): 2·(#strictly below) + (t + 1)
      .select($"x", $"t", (($"cum" - $"t") * 2 + $"t" + 1).as("r2"))
    val per = cnt.join(pc.select($"x", $"r2"), Seq("x"))
      .groupBy($"source")
      .agg(sum($"c").as("n"), sum($"c" * $"r2").as("r2sum"))
    (cnt, pc, per)
  }

  /** q66's core over an explicit (source, x) relation — exposed so the spec
    * can plant samples with a hand-computed H. */
  private[graft] def kruskalWallis(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    val (cnt, pc, per) = kwRankTables(metric)
    val term =
      "(CAST(r2sum AS DOUBLE) / 2.0) * (CAST(r2sum AS DOUBLE) / 2.0) / CAST(n AS DOUBLE)"
    val glob = per.agg(
      sum($"n").as("n_total"), count(lit(1)).as("n_groups"),
      dsum(expr(term)).as("s2"))
    val ttg = pc.agg(sum($"t" * $"t" * $"t" - $"t").as("ttl"))
    val out = per
      .crossJoin(broadcast(glob)).crossJoin(broadcast(ttg))
      .select($"source", $"n",
        r($"r2sum".cast("double") / 2.0 / $"n".cast("double"), 6)
          .as("mean_rank"),
        $"n_total", $"n_groups",
        $"s2", $"n_total".cast("double").as("nn"),
        $"n_groups".cast("double").as("kk"), $"ttl".cast("double").as("tt"))
      .select($"source", $"n", $"mean_rank", $"n_total", $"n_groups",
        r(expr(KwH), 6).as("h"), r(expr(KwHAdj), 6).as("h_adj"),
        r(expr(KwEta2), 6).as("eta2"))
      .orderBy($"source")
      .localCheckpoint(true)
    cnt.unpersist(blocking = false)
    out
  }

  /** The cnt/pc/per CTE text q66 and q116 share verbatim (the
    * anovaCellsSql discipline: omnibus and post-hoc cannot drift). */
  private[graft] val kwCtesSql: String =
    s"""cnt AS MATERIALIZED (SELECT source, x, count(*) AS c
       FROM (SELECT source, len(${TextOps.toksSql("lower(text)")}) AS x
             FROM documents) z
       WHERE x IS NOT NULL
       GROUP BY source, x),
       pc AS (SELECT x, t, (cum - t) * 2 + t + 1 AS r2 FROM
         (SELECT x, CAST(sum(c) AS BIGINT) AS t,
            CAST(sum(sum(c)) OVER (ORDER BY x) AS BIGINT) AS cum
          FROM cnt GROUP BY x) u),
       per AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(c * r2) AS BIGINT) AS r2sum
         FROM cnt JOIN pc USING (x) GROUP BY source)"""

  val q66Sql: String =
    s"""WITH $kwCtesSql,
       gstat AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
           count(*) AS n_groups,
           ${dsumSql(
             "(CAST(r2sum AS DOUBLE) / 2.0) * (CAST(r2sum AS DOUBLE) / 2.0) / CAST(n AS DOUBLE)")} AS s2
         FROM per),
       ttg AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ttl FROM pc)
       SELECT source, n,
         ${rSql("CAST(r2sum AS DOUBLE) / 2.0 / CAST(n AS DOUBLE)", 6)} AS mean_rank,
         n_total, n_groups,
         ${rSql(KwH, 6)} AS h, ${rSql(KwHAdj, 6)} AS h_adj,
         ${rSql(KwEta2, 6)} AS eta2
       FROM (SELECT p.source, p.n, p.r2sum, g.n_total, g.n_groups, g.s2,
           CAST(g.n_total AS DOUBLE) AS nn, CAST(g.n_groups AS DOUBLE) AS kk,
           CAST(t.ttl AS DOUBLE) AS tt
         FROM per p CROSS JOIN gstat g CROSS JOIN ttg t) z
       ORDER BY source"""

  // --- q116: Dunn's post-hoc test after q66's Kruskal–Wallis -----------------

  /** Dunn's z over the shared rank-sum integers: mean ranks from the
    * exact 2·rank sums, the tie-corrected rank variance
    * N(N+1)/12 − Σ(t³−t)/(12(N−1)), one shared text chain. */
  private val DunnZ =
    "((CAST(ra AS DOUBLE) / 2.0 / CAST(na AS DOUBLE)) - " +
      "(CAST(rb AS DOUBLE) / 2.0 / CAST(nb AS DOUBLE))) / " +
      "sqrt((nn * (nn + 1.0) / 12.0 - tt / (12.0 * (nn - 1.0))) * " +
      "(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))"

  /** q116 — Dunn's test (1964): WHICH source pairs differ, after q66's
    * omnibus Kruskal–Wallis says "some do" — the rank-based post-hoc
    * that pairs with q66 exactly as q115's Tukey HSD pairs with q78's
    * ANOVA. Pairwise z = (R̄ᵢ − R̄ⱼ) / √(σ²·(1/nᵢ + 1/nⱼ)) with the
    * tie-corrected pooled rank variance; every input is an exact integer
    * from the SHARED rank machinery ([[kwRankTables]] / [[kwCtesSql]] —
    * omnibus and post-hoc cannot drift), and the one shared expression
    * text does the divisions. The critical value is a Bonferroni-
    * adjusted normal quantile (a table, not portable transcendentals) —
    * the report carries the statistic, the q49/q115 convention.
    *
    * Scale shape: q66's one count pass + a pair join over the ≤|sources|
    * rank-sum table — driver-sized. */
  def q116DunnPosthoc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dunnPosthoc(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** q116's core over an explicit (source, x) relation — exposed so the
    * spec can pin a hand-computed z and the symmetry law. */
  private[graft] def dunnPosthoc(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    val (cnt, pc, per0) = kwRankTables(metric)
    val per = per0.localCheckpoint(true) // feeds totals AND both pair sides
    // ttg derives from pc, which derives from the CACHED cnt — pin it
    // eagerly BEFORE unpersisting, or every execution of the returned
    // plan re-scans the corpus for the tie sum (the q68 double-
    // evaluation genus; review r14)
    val ttg = pc.agg(sum($"t" * $"t" * $"t" - $"t").as("ttl"))
      .localCheckpoint(true)
    cnt.unpersist(blocking = false)
    val glob = per.agg(sum($"n").as("n_total"))
    val a = per.select($"source".as("src_a"), $"n".as("na"), $"r2sum".as("ra"))
    val b = per.select($"source".as("src_b"), $"n".as("nb"), $"r2sum".as("rb"))
    a.join(b, $"src_a" < $"src_b")
      .crossJoin(broadcast(glob)).crossJoin(broadcast(ttg))
      .withColumn("nn", $"n_total".cast("double"))
      .withColumn("tt", $"ttl".cast("double"))
      .filter($"n_total" > 1)
      .select($"src_a", $"src_b", $"na", $"nb",
        r(expr("CAST(ra AS DOUBLE) / 2.0 / CAST(na AS DOUBLE)"), 6).as("mean_rank_a"),
        r(expr("CAST(rb AS DOUBLE) / 2.0 / CAST(nb AS DOUBLE)"), 6).as("mean_rank_b"),
        r(expr(DunnZ), 6).as("z_stat"))
      .orderBy($"src_a", $"src_b")
  }

  val q116Sql: String =
    s"""WITH $kwCtesSql,
       gstat AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM per),
       ttg AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ttl FROM pc)
       SELECT src_a, src_b, na, nb,
         ${rSql("CAST(ra AS DOUBLE) / 2.0 / CAST(na AS DOUBLE)", 6)} AS mean_rank_a,
         ${rSql("CAST(rb AS DOUBLE) / 2.0 / CAST(nb AS DOUBLE)", 6)} AS mean_rank_b,
         ${rSql(DunnZ, 6)} AS z_stat
       FROM (SELECT pa.source AS src_a, pa.n AS na, pa.r2sum AS ra,
           pb.source AS src_b, pb.n AS nb, pb.r2sum AS rb,
           CAST(g.n_total AS DOUBLE) AS nn, CAST(t.ttl AS DOUBLE) AS tt
         FROM per pa JOIN per pb ON pa.source < pb.source
         CROSS JOIN gstat g CROSS JOIN ttg t
         WHERE g.n_total > 1) z
       ORDER BY src_a, src_b"""

  // --- q79: Spearman vs Pearson correlation per language -------------------

  /** Shared Pearson algebra over moment columns (nn, sx, sxx, sy, syy,
    * sxy) — one text for the raw metrics and the rank columns alike. */
  private def pearsonOf(p: String): String =
    s"((nn * s${p}xy - s${p}x * s${p}y) / " +
      s"(sqrt(nn * s${p}xx - s${p}x * s${p}x) * sqrt(nn * s${p}yy - s${p}y * s${p}y)))"

  /** q79 — Spearman rank correlation vs Pearson between per-doc char and
    * token counts, per language (rho ≫ r flags a monotone-but-nonlinear
    * relation a linear model would miss; rho ≈ r ≈ 1 here is the sanity
    * check that chars track tokens). Ranks are midranks via q66's exact
    * integer trick — r2 = 2·midrank = 2·(#strictly below) + (t+1) from a
    * per-(lang, value) count table and a cumulative window on the VALUE
    * axis (metric cardinality, not corpus volume) — and correlation is
    * affine-invariant, so Pearson on the integer r2 columns IS Spearman
    * (tie-correct, no /2 ever computed). Both correlations come from ONE
    * per-lang decimal-moment aggregation; NULL langs coalesce to ''.
    *
    * Scale shape: one metric scan, two value-axis rank tables joined
    * back on (lang, value), one map-side-combinable moment pass. */
  def q79Spearman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    spearman(Tables.documents(s, dir)
      .select(coalesce($"lang", lit("")).as("lang"),
        $"n_chars".cast("long").as("x"),
        size(TextOps.toks(lower($"text"))).cast("long").as("y")))
  }

  /** q79's core over an explicit (lang, x, y) relation — exposed so the
    * spec can plant ties and monotone-nonlinear relations. */
  private[graft] def spearman(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    val docs = metric.filter($"x".isNotNull && $"y".isNotNull)
      .cache() // feeds both rank axes and the moment pass
    def rankTable(v: String) = docs.groupBy($"lang", col(v))
      .agg(count(lit(1)).as("t"))
      .withColumn("cum", sum($"t").over(
        Window.partitionBy($"lang").orderBy(col(v))))
      .select($"lang", col(v), (($"cum" - $"t") * 2 + $"t" + 1).as(s"r$v"))
    val ranked = docs
      .join(rankTable("x"), Seq("lang", "x"))
      .join(rankTable("y"), Seq("lang", "y"))
    val out = ranked.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        m($"x").as("sx"), m($"x" * $"x").as("sxx"),
        m($"y").as("sy"), m($"y" * $"y").as("syy"),
        m($"x" * $"y").as("sxy"),
        m($"rx").as("srx"), m($"rx" * $"rx").as("srxx"),
        m($"ry").as("sry"), m($"ry" * $"ry").as("sryy"),
        m($"rx" * $"ry").as("srxy"))
      .withColumn("nn", $"n_docs".cast("double"))
      .filter(expr("nn * sxx - sx * sx") > 0 && expr("nn * syy - sy * sy") > 0 &&
        expr("nn * srxx - srx * srx") > 0 && expr("nn * sryy - sry * sry") > 0)
      .select($"lang", $"n_docs",
        r(expr(pearsonOf("")), 6).as("pearson_r"),
        r(expr(pearsonOf("r")), 6).as("spearman_rho"))
      .orderBy($"lang")
      .localCheckpoint(true)
    docs.unpersist(blocking = false)
    out
  }

  val q79Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""WITH d AS MATERIALIZED (SELECT coalesce(lang, '') AS lang,
         CAST(n_chars AS BIGINT) AS x,
         CAST(len(${TextOps.toksSql("lower(text)")}) AS BIGINT) AS y
       FROM documents
       WHERE n_chars IS NOT NULL AND text IS NOT NULL),
       rx AS (SELECT lang, x, (cum - t) * 2 + t + 1 AS rx FROM
         (SELECT lang, x, count(*) AS t,
            sum(count(*)) OVER (PARTITION BY lang ORDER BY x) AS cum
          FROM d GROUP BY lang, x) u),
       ry AS (SELECT lang, y, (cum - t) * 2 + t + 1 AS ry FROM
         (SELECT lang, y, count(*) AS t,
            sum(count(*)) OVER (PARTITION BY lang ORDER BY y) AS cum
          FROM d GROUP BY lang, y) u),
       mo AS (SELECT d.lang, count(*) AS n_docs,
         ${m("d.x")} AS sx, ${m("d.x * d.x")} AS sxx,
         ${m("d.y")} AS sy, ${m("d.y * d.y")} AS syy, ${m("d.x * d.y")} AS sxy,
         ${m("rx.rx")} AS srx, ${m("rx.rx * rx.rx")} AS srxx,
         ${m("ry.ry")} AS sry, ${m("ry.ry * ry.ry")} AS sryy,
         ${m("rx.rx * ry.ry")} AS srxy
       FROM d JOIN rx ON rx.lang = d.lang AND rx.x = d.x
              JOIN ry ON ry.lang = d.lang AND ry.y = d.y
       GROUP BY d.lang),
       pr AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) AS nn,
         sx, sxx, sy, syy, sxy, srx, srxx, sry, sryy, srxy
       FROM mo)
       SELECT lang, n_docs,
         ${rSql(pearsonOf(""), 6)} AS pearson_r,
         ${rSql(pearsonOf("r"), 6)} AS spearman_rho
       FROM pr
       WHERE nn * sxx - sx * sx > 0 AND nn * syy - sy * sy > 0
         AND nn * srxx - srx * srx > 0 AND nn * sryy - sry * sry > 0
       ORDER BY lang"""
  }

  // --- q50: chi-square independence of the lang × source grid --------------

  /** q50 — Pearson chi-square test of independence between document
    * language and source, plus Cramér's V effect size: the categorical
    * association diagnostic of corpus composition audits ("are languages
    * evenly spread over crawls, or is one source carrying one language?").
    * The contingency table is ONE map-side-combinable count aggregation;
    * marginals/expected counts live on the tiny L×S grid (zero-observed
    * cells restored by a left join against the marginal cross), and
    * Σ(O−E)²/E goes through the decimal-sum policy so cell order can't
    * move the statistic. NULL categories are coalesced to '' on both
    * sides so the null group participates identically in both engines.
    * At 100 TB the cost is the one count scan; the test is free. */
  def q50Chi2Independence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chi2Independence(Tables.documents(s, dir)
      .select(coalesce($"lang", lit("")).as("lang"),
        coalesce($"source", lit("")).as("source")))
  }

  /** q50's core over an explicit (lang, source) relation — exposed so the
    * spec can plant a perfectly-proportional table (χ² must be exactly 0)
    * and a maximally-associated one (V must be exactly 1). */
  private[graft] def chi2Independence(cats: DataFrame): DataFrame = {
    val s = cats.sparkSession
    import s.implicits._
    val cellv = "(o - e) * (o - e) / e"
    val obs = cats
      .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
      .cache() // feeds both marginals and the grid join
    val rl = obs.groupBy($"lang").agg(sum($"o").as("rl"))
    val cs = obs.groupBy($"source").agg(sum($"o").as("cs"))
    val nn = obs.agg(sum($"o").as("nn"))
    val cells = rl.crossJoin(broadcast(cs))
      .join(obs, Seq("lang", "source"), "left")
      .crossJoin(broadcast(nn))
      .select($"lang", $"source", coalesce($"o", lit(0L)).as("o"),
        expr("CAST(rl AS DOUBLE) * cs / nn").as("e"), $"nn")
    val out = cells
      .agg(min($"nn").as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        dsum(expr(cellv)).as("chi2u"))
      .select($"n_docs", $"n_langs", $"n_sources",
        (($"n_langs" - 1) * ($"n_sources" - 1)).as("dof"),
        r($"chi2u", 6).as("chi2"),
        r(sqrt($"chi2u" /
          ($"n_docs".cast("double") * least($"n_langs" - 1, $"n_sources" - 1))), 6)
          .as("cramers_v"))
      .orderBy($"dof")
      .localCheckpoint(true)
    obs.unpersist(blocking = false)
    out
  }

  val q50Sql: String = {
    val cellv = "(o - e) * (o - e) / e"
    s"""WITH obs AS MATERIALIZED (SELECT coalesce(lang, '') AS lang,
         coalesce(source, '') AS source, count(*) AS o
       FROM documents GROUP BY 1, 2),
       rl AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rl FROM obs GROUP BY lang),
       cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS cs FROM obs GROUP BY source),
       nn AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM obs),
       cells AS (SELECT rl.lang, cs.source, coalesce(o, 0) AS o,
         CAST(rl AS DOUBLE) * cs / nn AS e, nn
       FROM rl CROSS JOIN cs
       LEFT JOIN obs ON obs.lang = rl.lang AND obs.source = cs.source
       CROSS JOIN nn),
       agg AS (SELECT min(nn) AS n_docs,
         count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources,
         ${dsumSql(cellv)} AS chi2u FROM cells)
       SELECT n_docs, n_langs, n_sources,
         (n_langs - 1) * (n_sources - 1) AS dof,
         ${rSql("chi2u", 6)} AS chi2,
         ${rSql("sqrt(chi2u / (CAST(n_docs AS DOUBLE) * least(n_langs - 1, n_sources - 1)))", 6)} AS cramers_v
       FROM agg ORDER BY dof"""
  }

  // --- q49: pairwise Welch's t-test between sources ------------------------

  /** Shared Welch algebra over the joined per-source moment columns
    * (na/sxa/sxxa vs nb2/sxb/sxxb) — one text, evaluated by `expr` on the
    * Spark side and inlined in the oracle, so the IEEE order is identical. */
  private val WVa = "((sxxa - sxa * sxa / na) / (na - 1.0))"
  private val WVb = "((sxxb - sxb * sxb / nb2) / (nb2 - 1.0))"
  private val WSe = s"($WVa / na + $WVb / nb2)"
  private val WT = s"((sxa / na - sxb / nb2) / sqrt($WSe))"
  private val WDf =
    s"(($WSe * $WSe) / (($WVa / na) * ($WVa / na) / (na - 1.0) + ($WVb / nb2) * ($WVb / nb2) / (nb2 - 1.0)))"

  /** q49 — Welch's unequal-variance two-sample t-test between every pair
    * of sources on the per-doc token count (the A/B-test primitive:
    * "does source X produce longer documents than source Y, beyond
    * noise?"). Each side collapses to three decimal moments (n, Σx, Σx²)
    * in ONE map-side-combinable pass; the pairwise frame is an S²-row
    * self-join of the tiny per-source table, and t / Welch–Satterthwaite
    * df are fixed-order IEEE algebra from shared expression text — the
    * whole test mirrors in DuckDB. At 100 TB the cost is the one metric
    * scan; the test itself is free. */
  def q49WelchTtest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    welchTtest(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** q49's core over an explicit (source, x) relation — exposed so the
    * spec can check t and df against hand-computed values. */
  private[graft] def welchTtest(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    val mom = metric
      .groupBy($"source")
      .agg(count(lit(1)).as("n0"), m($"x").as("sx"), m($"x" * $"x").as("sxx"))
      .cache() // both sides of the pair join
    val a = mom.select($"source".as("source_a"), $"n0".as("na0"),
      $"n0".cast("double").as("na"), $"sx".as("sxa"), $"sxx".as("sxxa"))
    val b = mom.select($"source".as("source_b"), $"n0".as("nb0"),
      $"n0".cast("double").as("nb2"), $"sx".as("sxb"), $"sxx".as("sxxb"))
    val out = a.crossJoin(b).filter($"source_a" < $"source_b")
      .select($"source_a", $"source_b", $"na0".as("n_a"), $"nb0".as("n_b"),
        r(expr("sxa / na"), 6).as("mean_a"),
        r(expr("sxb / nb2"), 6).as("mean_b"),
        r(expr(WT), 6).as("t_stat"),
        r(expr(WDf), 6).as("df"))
      .orderBy($"source_a", $"source_b")
      .localCheckpoint(true)
    mom.unpersist(blocking = false)
    out
  }

  val q49Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""WITH mo AS MATERIALIZED (SELECT source, count(*) AS n0,
         ${m("x")} AS sx, ${m("x * x")} AS sxx
       FROM (SELECT source, len(${TextOps.toksSql("lower(text)")}) AS x
             FROM documents) z
       GROUP BY source),
       pr AS (SELECT a.source AS source_a, b.source AS source_b,
         a.n0 AS na0, CAST(a.n0 AS DOUBLE) AS na, a.sx AS sxa, a.sxx AS sxxa,
         b.n0 AS nb0, CAST(b.n0 AS DOUBLE) AS nb2, b.sx AS sxb, b.sxx AS sxxb
       FROM mo a CROSS JOIN mo b WHERE a.source < b.source)
       SELECT source_a, source_b, na0 AS n_a, nb0 AS n_b,
         ${rSql("sxa / na", 6)} AS mean_a, ${rSql("sxb / nb2", 6)} AS mean_b,
         ${rSql(WT, 6)} AS t_stat, ${rSql(WDf, 6)} AS df
       FROM pr ORDER BY source_a, source_b"""
  }

  // --- q78: one-way ANOVA across sources -----------------------------------

  /** Shared ANOVA algebra over the per-metric totals (nd, kd, sxs, sxxs,
    * sb) — one text, evaluated identically in both engines, so the IEEE
    * order matches. sb = Σ_g sx_g²/n_g is the between-group raw sum of
    * squares; the group terms re-enter decimal before summing so the
    * cross-group total is order-independent. */
  private val ASsb = "(sb - sxs * sxs / nd)"
  private val ASsw = "(sxxs - sb)"
  private val ASst = "(sxxs - sxs * sxs / nd)"
  private val AF = s"(($ASsb / (kd - 1.0)) / ($ASsw / (nd - kd)))"

  /** q78 — one-way ANOVA F-test across all sources at once, on the
    * per-doc token and char counts (q49 answers "do these TWO sources
    * differ?" pairwise; ANOVA answers "does source explain the metric AT
    * ALL?" in one number, with η² as the variance-explained effect size —
    * the parametric sibling of q66's Kruskal–Wallis). Each (metric,
    * source) cell collapses to three decimal moments in ONE
    * map-side-combinable pass; SSB/SSW/F/η² are fixed-order IEEE algebra
    * over the k-row cell table with the cross-group sums re-entering
    * decimal (order-independent). At 100 TB the cost is the one metric
    * scan; the test itself is free. */
  /** The two-metric (metric, source, x) relation q78/q113/q115/q119 all
    * measure — ONE Scala construction mirroring the shared anovaCellsSql
    * text, so the four tests cannot drift on the metric definition
    * either (review r14). */
  private def anovaMetric(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source", explode(array(
        struct(lit("n_chars").as("metric"), $"n_chars".cast("int").as("x")),
        struct(lit("n_tokens").as("metric"),
          size(TextOps.toks(lower($"text"))).as("x")))).as("f"))
      .select($"f.metric", $"source", $"f.x")
  }

  def q78Anova(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    anovaF(anovaMetric(s, dir))
  }

  /** q78's core over an explicit (metric, source, x) relation — exposed
    * so the spec can check F and η² against hand-computed values. */
  private[graft] def anovaF(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    metric
      .groupBy($"metric", $"source")
      .agg(count(lit(1)).as("n0"), m($"x").as("sx"), m($"x" * $"x").as("sxx"))
      .groupBy($"metric")
      .agg(sum($"n0").as("n_docs"), count(lit(1)).as("k_groups"),
        m($"sx").as("sxs"), m($"sxx").as("sxxs"),
        m($"sx" * $"sx" / $"n0".cast("double")).as("sb"))
      .filter($"k_groups" >= 2 && $"n_docs" > $"k_groups")
      .withColumn("nd", $"n_docs".cast("double"))
      .withColumn("kd", $"k_groups".cast("double"))
      .filter(expr(ASsw) > 0 && expr(ASst) > 0)
      .select($"metric", $"n_docs", $"k_groups",
        r(expr(ASsb), 6).as("ssb"), r(expr(ASsw), 6).as("ssw"),
        r(expr(AF), 6).as("f_stat"),
        r(expr(s"$ASsb / $ASst"), 6).as("eta_sq"))
      .orderBy($"metric")
  }

  /** The q78/q115 shared DuckDB cell block: per-(metric, source) decimal
    * moments over the two per-doc metrics — one source of truth so the
    * omnibus F and its post-hoc q statistics can't drift. */
  /** THE decimal-moment text (invariant 1's SQL half) — q78/q115 and the
    * shared cell block all delegate here so a policy change lands once. */
  private def decMomentSql(e: String): String =
    s"CAST(sum(CAST(($e) AS DECIMAL(38,10))) AS DOUBLE)"

  private def anovaCellsSql: String = {
    def m(e: String) = decMomentSql(e)
    s"""mx AS (SELECT source,
         unnest(['n_chars', 'n_tokens']) AS metric,
         unnest([CAST(n_chars AS INTEGER),
           CAST(len(${TextOps.toksSql("lower(text)")}) AS INTEGER)]) AS x
       FROM documents),
       mo AS MATERIALIZED (SELECT metric, source, count(*) AS n0,
         ${m("x")} AS sx, ${m("x * x")} AS sxx
       FROM mx GROUP BY metric, source)"""
  }

  val q78Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""WITH $anovaCellsSql,
       ag AS (SELECT metric, CAST(sum(n0) AS BIGINT) AS n_docs,
         count(*) AS k_groups, ${m("sx")} AS sxs, ${m("sxx")} AS sxxs,
         ${m("sx * sx / CAST(n0 AS DOUBLE)")} AS sb
       FROM mo GROUP BY metric),
       pr AS (SELECT metric, n_docs, k_groups,
         CAST(n_docs AS DOUBLE) AS nd, CAST(k_groups AS DOUBLE) AS kd,
         sxs, sxxs, sb
       FROM ag WHERE k_groups >= 2 AND n_docs > k_groups)
       SELECT metric, n_docs, k_groups,
         ${rSql(ASsb, 6)} AS ssb, ${rSql(ASsw, 6)} AS ssw,
         ${rSql(AF, 6)} AS f_stat,
         ${rSql(s"$ASsb / $ASst", 6)} AS eta_sq
       FROM pr WHERE $ASsw > 0 AND $ASst > 0 ORDER BY metric"""
  }

  // --- q115: Tukey HSD post-hoc pairwise q statistics ------------------------

  /** Shared q115 algebra texts (identical both engines): the pooled
    * within-group variance from q78's decimal cell sums, and the
    * studentized-range statistic per source pair. */
  private val TkMsw = "((sxxs - sb) / (nd - kd))"
  private val TkQ =
    "(abs(ma - mb) / sqrt(msw / 2.0 * " +
      "(1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))))"

  /** q115 — Tukey HSD post-hoc pairwise comparisons (the step AFTER
    * q78's omnibus ANOVA says "source matters": WHICH source pairs
    * differ — the studentized-range q statistic per pair, with the
    * Tukey–Kramer unequal-n standard error). Same decimal cell moments
    * as q78 (shared [[anovaCellsSql]] — omnibus and post-hoc cannot
    * drift); MSW = SSW/(N−k) pooled across groups; q_{ij} =
    * |x̄ᵢ − x̄ⱼ| / √(MSW/2 · (1/nᵢ + 1/nⱼ)). The critical value lives in
    * studentized-range tables (not portable transcendentals) — the
    * report carries the statistic, as q49 does for Welch t.
    *
    * Scale shape: ONE map-side-combinable cell pass; the pair join runs
    * over the ≤|metrics|·|sources| cell table — driver-sized. */
  def q115TukeyHsd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tukeyHsd(anovaMetric(s, dir))
  }

  /** q115's core over an explicit (metric, source, x) relation — exposed
    * so the spec can check q against hand-computed values. */
  private[graft] def tukeyHsd(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    val cells = metric
      .groupBy($"metric", $"source")
      .agg(count(lit(1)).as("n0"), m($"x").as("sx"), m($"x" * $"x").as("sxx"))
      .localCheckpoint(true) // feeds the MSW aggregate AND both join sides
    val msw = cells.groupBy($"metric")
      .agg(sum($"n0").as("n_docs"), count(lit(1)).as("k_groups"),
        m($"sxx").as("sxxs"),
        m($"sx" * $"sx" / $"n0".cast("double")).as("sb"))
      .filter($"k_groups" >= 2 && $"n_docs" > $"k_groups")
      .withColumn("nd", $"n_docs".cast("double"))
      .withColumn("kd", $"k_groups".cast("double"))
      .withColumn("msw", expr(TkMsw))
      .filter($"msw" > 0)
      .select($"metric", $"msw")
    val a = cells.select($"metric", $"source".as("src_a"), $"n0".as("na"),
      ($"sx" / $"n0".cast("double")).as("ma"))
    val b = cells.select($"metric", $"source".as("src_b"), $"n0".as("nb"),
      ($"sx" / $"n0".cast("double")).as("mb"))
    a.join(b, Seq("metric")).filter($"src_a" < $"src_b")
      .join(broadcast(msw), Seq("metric"))
      .select($"metric", $"src_a", $"src_b", $"na", $"nb",
        r(abs($"ma" - $"mb"), 6).as("mean_diff"),
        r(expr(TkQ), 6).as("q_stat"))
      .orderBy($"metric", $"src_a", $"src_b")
  }

  val q115Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""WITH $anovaCellsSql,
       tag AS (SELECT metric, CAST(sum(n0) AS BIGINT) AS n_docs,
           count(*) AS k_groups, ${m("sxx")} AS sxxs,
           ${m("sx * sx / CAST(n0 AS DOUBLE)")} AS sb
         FROM mo GROUP BY metric),
       tmsw AS (SELECT metric, $TkMsw AS msw FROM (
           SELECT metric, sxxs, sb, CAST(n_docs AS DOUBLE) AS nd,
             CAST(k_groups AS DOUBLE) AS kd
           FROM tag WHERE k_groups >= 2 AND n_docs > k_groups)
         WHERE $TkMsw > 0),
       ta AS (SELECT metric, source AS src_a, n0 AS na,
           sx / CAST(n0 AS DOUBLE) AS ma FROM mo),
       tb AS (SELECT metric, source AS src_b, n0 AS nb,
           sx / CAST(n0 AS DOUBLE) AS mb FROM mo)
       SELECT ta.metric, src_a, src_b, na, nb,
         ${rSql("abs(ma - mb)", 6)} AS mean_diff,
         ${rSql(TkQ, 6)} AS q_stat
       FROM ta JOIN tb ON ta.metric = tb.metric AND src_a < src_b
       JOIN tmsw ON tmsw.metric = ta.metric
       ORDER BY ta.metric, src_a, src_b"""
  }


  // --- q118/q120: Friedman test + Nemenyi post-hoc over blocked ranks --------

  /** Shared Friedman algebra texts (identical both engines): the
    * tie-robust Q over DOUBLED midranks — Q = (k−1)·Σⱼ(R′ⱼ − n(k+1))² /
    * (ΣΣr′² − nk(k+1)²), integer numerator AND denominator (the doubled
    * ranks absorb the /4s; reduces to the classic 12S/(nk(k+1)) when
    * tie-free) — and Nemenyi's z over the same rank sums. */
  private val FrQ =
    "((kk - 1.0) * CAST(s4 AS DOUBLE) / " +
      "(CAST(a4 AS DOUBLE) - nn * kk * (kk + 1.0) * (kk + 1.0)))"
  private val NemZ =
    "((CAST(ra AS DOUBLE) - CAST(rb AS DOUBLE)) / (2.0 * nn) / " +
      "sqrt(kk * (kk + 1.0) / (6.0 * nn)))"

  /** The shared Friedman rank machinery q118's omnibus AND q120's
    * post-hoc build on (they cannot drift): blocks = hour-of-day cells
    * of the 6dp mean event value per treatment (= event_type), COMPLETE
    * blocks only (a block missing a treatment has no rank for it —
    * the balanced-design requirement), ranked WITHIN block as exact
    * 2·midranks (2·rank + tiecount − 1, every value an integer).
    * Returns (ranked(blk, treat, r2), per(treat, n_b, rs2)) with `per`
    * eagerly pinned (it feeds totals and both q120 pair sides). */
  private[graft] def friedmanTables(cells0: DataFrame): (DataFrame, DataFrame) = {
    val s = cells0.sparkSession
    import s.implicits._
    // null cell means would diverge on the rank window (NULLS FIRST vs
    // LAST) — drop them BEFORE the completeness filter on both sides
    val cells = cells0.filter($"x".isNotNull).localCheckpoint(true)
    val kdf = cells.agg(countDistinct($"treat").as("k_treat"))
    val complete = cells.groupBy($"blk").agg(count(lit(1)).as("kc"))
      .crossJoin(broadcast(kdf)).filter($"kc" === $"k_treat").select($"blk")
    val wr = Window.partitionBy($"blk").orderBy($"x")
    val we = Window.partitionBy($"blk", $"x")
    val ranked = cells.join(broadcast(complete), Seq("blk"))
      .select($"blk", $"treat", $"x")
      .withColumn("r2", rank().over(wr) * 2 + count(lit(1)).over(we) - 1)
      .localCheckpoint(true) // feeds per-treat sums AND the ΣΣr'² total
    val per = ranked.groupBy($"treat")
      .agg(count(lit(1)).as("n_b"), sum($"r2").as("rs2"))
      .localCheckpoint(true)
    (ranked, per)
  }

  /** q118 — the Friedman test (blocked ranks): do the event types rank
    * consistently across hour-of-day blocks, judged on the 6dp mean
    * value per (hod, event_type) cell? The repeated-measures companion
    * to q66's Kruskal–Wallis (which pools all observations; Friedman
    * ranks WITHIN each block, so a block-level shift — a hot hour —
    * cancels instead of confounding). Doubled midranks make numerator
    * and denominator exact BIGINTs; the one shared text does the final
    * division; all-tied blocks (denominator 0) emit nothing by pinned
    * convention. Per-treatment mean ranks ride along (the report).
    *
    * Scale shape: ONE map-side-combinable cell aggregation over events;
    * everything after is |hods|·|types| cells — driver-sized. */
  def q118Friedman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    friedman(Tables.events(s, dir)
      .groupBy(hour($"ts").cast("long").as("blk"), $"event_type".as("treat"))
      .agg(Num.ravg($"value", 6).as("x")))
  }

  /** q118's core over an explicit (blk, treat, x) relation — exposed so
    * the spec can pin the perfect-consistency Q = n(k−1), a hand-ranked
    * tie panel, and the all-tied degeneracy. */
  private[graft] def friedman(cells0: DataFrame): DataFrame = {
    val s = cells0.sparkSession
    import s.implicits._
    val (ranked, per) = friedmanTables(cells0)
    val glob = per.agg(count(lit(1)).as("k_treat"), max($"n_b").as("n_blk"))
    val aa = ranked.agg(sum($"r2" * $"r2").as("a4"))
    val s4 = per.crossJoin(broadcast(glob))
      .agg(sum(($"rs2" - $"n_blk" * ($"k_treat" + 1)) *
        ($"rs2" - $"n_blk" * ($"k_treat" + 1))).as("s4"))
    per.crossJoin(broadcast(glob)).crossJoin(broadcast(aa))
      .crossJoin(broadcast(s4))
      .filter($"a4" - $"n_blk" * $"k_treat" * ($"k_treat" + 1) * ($"k_treat" + 1) > 0)
      .withColumn("nn", $"n_blk".cast("double"))
      .withColumn("kk", $"k_treat".cast("double"))
      .select($"treat".as("event_type"), $"n_blk", $"k_treat",
        r($"rs2".cast("double") / 2.0 / $"n_blk".cast("double"), 6).as("mean_rank"),
        r(expr(FrQ), 6).as("q_stat"))
      .orderBy($"event_type")
  }

  /** The cells/ranks CTE text q118 and q120 share verbatim. */
  private[graft] val frCtesSql: String =
    s"""fc0 AS (SELECT CAST(extract(hour FROM ts) AS BIGINT) AS blk,
         event_type AS treat, ${Num.ravgSql("value", 6)} AS x
       FROM events GROUP BY 1, 2),
       fcn AS (SELECT * FROM fc0 WHERE x IS NOT NULL),
       kg AS (SELECT count(DISTINCT treat) AS k_treat FROM fcn),
       cb AS (SELECT blk FROM fcn GROUP BY blk
              HAVING count(*) = (SELECT k_treat FROM kg)),
       fr AS MATERIALIZED (SELECT blk, treat,
           CAST(2 * rank() OVER (PARTITION BY blk ORDER BY x)
              + count(*) OVER (PARTITION BY blk, x) - 1 AS BIGINT) AS r2
         FROM fcn JOIN cb USING (blk)),
       per AS (SELECT treat, count(*) AS n_b, CAST(sum(r2) AS BIGINT) AS rs2
         FROM fr GROUP BY treat),
       gl AS (SELECT count(*) AS k_treat, CAST(max(n_b) AS BIGINT) AS n_blk
         FROM per)"""

  val q118Sql: String =
    s"""WITH $frCtesSql,
       a4t AS (SELECT CAST(sum(r2 * r2) AS BIGINT) AS a4 FROM fr),
       s4t AS (SELECT CAST(sum((rs2 - n_blk * (k_treat + 1)) *
             (rs2 - n_blk * (k_treat + 1))) AS BIGINT) AS s4
         FROM per CROSS JOIN gl)
       SELECT treat AS event_type, n_blk, k_treat,
         ${rSql("CAST(rs2 AS DOUBLE) / 2.0 / CAST(n_blk AS DOUBLE)", 6)} AS mean_rank,
         ${rSql(FrQ, 6)} AS q_stat
       FROM (SELECT p.treat, p.rs2, g.n_blk, g.k_treat,
           CAST(g.n_blk AS DOUBLE) AS nn, CAST(g.k_treat AS DOUBLE) AS kk,
           a.a4, s.s4
         FROM per p CROSS JOIN gl g CROSS JOIN a4t a CROSS JOIN s4t s) z
       WHERE a4 - n_blk * k_treat * (k_treat + 1) * (k_treat + 1) > 0
       ORDER BY event_type"""

  /** q120 — the Nemenyi post-hoc (the step AFTER q118's omnibus says
    * "event types rank differently": WHICH pairs differ — pairwise z
    * over mean ranks with the blocked-design SE √(k(k+1)/(6n)); pairs
    * with q118 exactly as q116's Dunn pairs with q66 and q115's Tukey
    * with q78, completing the omnibus→post-hoc triptych). Shared rank
    * machinery ([[friedmanTables]]/[[frCtesSql]]) — omnibus and
    * post-hoc cannot drift; the critical value is a studentized-range
    * table (not portable transcendentals) — the report carries the
    * statistic, the q49/q115/q116 convention. */
  def q120Nemenyi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nemenyi(Tables.events(s, dir)
      .groupBy(hour($"ts").cast("long").as("blk"), $"event_type".as("treat"))
      .agg(Num.ravg($"value", 6).as("x")))
  }

  /** q120's core — exposed for the hand-computed z and the zero law. */
  private[graft] def nemenyi(cells0: DataFrame): DataFrame = {
    val s = cells0.sparkSession
    import s.implicits._
    val (_, per) = friedmanTables(cells0)
    val glob = per.agg(count(lit(1)).as("k_treat"), max($"n_b").as("n_blk"))
    val a = per.select($"treat".as("treat_a"), $"rs2".as("ra"))
    val b = per.select($"treat".as("treat_b"), $"rs2".as("rb"))
    a.join(b, $"treat_a" < $"treat_b")
      .crossJoin(broadcast(glob))
      .withColumn("nn", $"n_blk".cast("double"))
      .withColumn("kk", $"k_treat".cast("double"))
      .select($"treat_a", $"treat_b", $"n_blk", $"k_treat",
        r($"ra".cast("double") / 2.0 / $"n_blk".cast("double"), 6).as("mean_rank_a"),
        r($"rb".cast("double") / 2.0 / $"n_blk".cast("double"), 6).as("mean_rank_b"),
        r(expr(NemZ), 6).as("z_stat"))
      .orderBy($"treat_a", $"treat_b")
  }

  val q120Sql: String =
    s"""WITH $frCtesSql
       SELECT treat_a, treat_b, n_blk, k_treat,
         ${rSql("CAST(ra AS DOUBLE) / 2.0 / CAST(n_blk AS DOUBLE)", 6)} AS mean_rank_a,
         ${rSql("CAST(rb AS DOUBLE) / 2.0 / CAST(n_blk AS DOUBLE)", 6)} AS mean_rank_b,
         ${rSql(NemZ, 6)} AS z_stat
       FROM (SELECT pa.treat AS treat_a, pb.treat AS treat_b,
           pa.rs2 AS ra, pb.rs2 AS rb, g.n_blk, g.k_treat,
           CAST(g.n_blk AS DOUBLE) AS nn, CAST(g.k_treat AS DOUBLE) AS kk
         FROM per pa JOIN per pb ON pa.treat < pb.treat CROSS JOIN gl g) z
       ORDER BY treat_a, treat_b"""

  // --- q119: Bartlett's variance-homogeneity test ----------------------------

  /** Shared q119 algebra texts: the per-group variance from the decimal
    * cell moments, its weighted-ln term, and the corrected statistic. */
  private val BtVi =
    "((sxx - sx * sx / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0))"
  private val BtTerm = s"((CAST(n0 AS DOUBLE) - 1.0) * ln($BtVi))"
  private val BtC =
    "(1.0 + (invsum - 1.0 / (nd - kd)) / (3.0 * (kd - 1.0)))"
  private val BtChi2 = s"(((nd - kd) * ln(sp2) - lnsum) / $BtC)"

  /** q119 — Bartlett's test: the PARAMETRIC variance-homogeneity
    * companion to q113's Brown–Forsythe (Bartlett is more powerful
    * under normality, notoriously sensitive otherwise — reporting both
    * is the textbook practice), over the same per-source document-length
    * metrics and the SAME decimal cell moments as q78/q115 (shared
    * anovaCellsSql — the three tests cannot drift). χ² = [(N−k)·ln(s²ₚ)
    * − Σ(nᵢ−1)·ln(s²ᵢ)] / C with the Bartlett correction C; the pooled
    * s²ₚ is q115's MSW text. Cross-group sums of ln terms round at 10dp
    * and re-enter decimal (order-free, the q111/q117 discipline);
    * zero-variance or singleton groups are excluded by pinned convention
    * (their ln is undefined), with n/k counted AFTER the exclusion. */
  def q119Bartlett(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bartlett(anovaMetric(s, dir))
  }

  /** q119's core over an explicit (metric, source, x) relation — exposed
    * so the spec can pin the hand-computed χ² and the equal-variance
    * zero law. */
  private[graft] def bartlett(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = dsum(c) // Num's decimal-moment policy
    metric
      .groupBy($"metric", $"source")
      .agg(count(lit(1)).as("n0"), m($"x").as("sx"), m($"x" * $"x").as("sxx"))
      .filter($"n0" >= 2 && expr(BtVi) > 0)
      .groupBy($"metric")
      .agg(sum($"n0").as("n_docs"), count(lit(1)).as("k_groups"),
        m($"sxx").as("sxxs"),
        m($"sx" * $"sx" / $"n0".cast("double")).as("sb"),
        dsum(r(expr(BtTerm), 10)).as("lnsum"),
        dsum(r(lit(1.0) / ($"n0".cast("double") - 1.0), 10)).as("invsum"))
      .filter($"k_groups" >= 2 && $"n_docs" > $"k_groups")
      .withColumn("nd", $"n_docs".cast("double"))
      .withColumn("kd", $"k_groups".cast("double"))
      .withColumn("sp2", expr(TkMsw))
      .filter($"sp2" > 0)
      .select($"metric", $"n_docs", $"k_groups",
        r($"sp2", 6).as("pooled_var"),
        r(expr(BtC), 6).as("c_factor"),
        r(expr(BtChi2), 6).as("chi2_stat"))
      .orderBy($"metric")
  }

  val q119Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""WITH $anovaCellsSql,
       bg AS (SELECT metric, CAST(sum(n0) AS BIGINT) AS n_docs,
           count(*) AS k_groups, ${m("sxx")} AS sxxs,
           ${m("sx * sx / CAST(n0 AS DOUBLE)")} AS sb,
           ${dsumSql(rSql(BtTerm, 10))} AS lnsum,
           ${dsumSql(rSql("1.0 / (CAST(n0 AS DOUBLE) - 1.0)", 10))} AS invsum
         FROM mo WHERE n0 >= 2 AND $BtVi > 0 GROUP BY metric),
       bp AS (SELECT metric, n_docs, k_groups, nd, kd,
           $TkMsw AS sp2, lnsum, invsum
         FROM (SELECT metric, n_docs, k_groups, sxxs, sb, lnsum, invsum,
             CAST(n_docs AS DOUBLE) AS nd, CAST(k_groups AS DOUBLE) AS kd
           FROM bg WHERE k_groups >= 2 AND n_docs > k_groups) y)
       SELECT metric, n_docs, k_groups,
         ${rSql("sp2", 6)} AS pooled_var,
         ${rSql(BtC, 6)} AS c_factor,
         ${rSql(BtChi2, 6)} AS chi2_stat
       FROM bp WHERE sp2 > 0 ORDER BY metric"""
  }

  // --- q113: Brown–Forsythe variance-homogeneity test -----------------------

  /** q113 — the Brown–Forsythe test (Levene's test on MEDIAN-centered
    * deviations, the robust form): are the per-source VARIANCES of the
    * document-length metrics equal? — the homoscedasticity check q78's
    * ANOVA quietly assumes (its F compares means under equal variances;
    * this W statistic is the test of that assumption, and doubles as a
    * dispersion-drift detector per source). W = the ANOVA F computed on
    * z = |x − median_group(x)|, so the WHOLE tail reuses [[anovaF]]
    * verbatim (q78's oracle-proven moment texts); the group medians ride
    * the proven percentile↔quantile_cont pairing on integer metrics, and
    * z = |int − 6dp-median| is an exact decimal — nothing reorders.
    *
    * Scale shape: one grouped percentile pass (bounded by group count ×
    * value cardinality) + q78's two map-side-combinable moment passes. */
  def q113Levene(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    leveneW(anovaMetric(s, dir))
  }

  /** q113's core over an explicit (metric, source, x) relation — exposed
    * so the spec can pin the location-invariance property (equal-shape
    * shifted groups ⇒ W = 0) and a planted spread difference. */
  private[graft] def leveneW(mx0: DataFrame): DataFrame = {
    val s = mx0.sparkSession
    import s.implicits._
    val mx = mx0.localCheckpoint(true) // medians AND the deviation join
    val med = mx.groupBy($"metric", $"source")
      .agg(r(percentile($"x", lit(0.5)), 6).as("med"))
    anovaF(mx.join(broadcast(med), Seq("metric", "source"))
      .select($"metric", $"source", abs($"x" - $"med").as("x")))
  }

  // lazy: interpolates ASsb/ASsw/ASst/AF defined LATER in the file — a
  // strict val here would silently read them as null (the e09/ml22
  // object-init-order lesson)
  lazy val q113Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""WITH mx AS MATERIALIZED (SELECT source,
         unnest(['n_chars', 'n_tokens']) AS metric,
         unnest([CAST(n_chars AS INTEGER),
           CAST(len(${TextOps.toksSql("lower(text)")}) AS INTEGER)]) AS x
       FROM documents),
       md AS (SELECT metric, source,
         ${rSql("quantile_cont(x, 0.5)", 6)} AS med
       FROM mx GROUP BY metric, source),
       zz AS (SELECT m.metric, m.source, abs(m.x - d.med) AS x
       FROM mx m JOIN md d USING (metric, source)),
       mo AS MATERIALIZED (SELECT metric, source, count(*) AS n0,
         ${m("x")} AS sx, ${m("x * x")} AS sxx
       FROM zz GROUP BY metric, source),
       ag AS (SELECT metric, CAST(sum(n0) AS BIGINT) AS n_docs,
         count(*) AS k_groups, ${m("sx")} AS sxs, ${m("sxx")} AS sxxs,
         ${m("sx * sx / CAST(n0 AS DOUBLE)")} AS sb
       FROM mo GROUP BY metric),
       pr AS (SELECT metric, n_docs, k_groups,
         CAST(n_docs AS DOUBLE) AS nd, CAST(k_groups AS DOUBLE) AS kd,
         sxs, sxxs, sb
       FROM ag WHERE k_groups >= 2 AND n_docs > k_groups)
       SELECT metric, n_docs, k_groups,
         ${rSql(ASsb, 6)} AS ssb, ${rSql(ASsw, 6)} AS ssw,
         ${rSql(AF, 6)} AS f_stat,
         ${rSql(s"$ASsb / $ASst", 6)} AS eta_sq
       FROM pr WHERE $ASsw > 0 AND $ASst > 0 ORDER BY metric"""
  }

  // --- q48: Poisson-bootstrap confidence intervals -------------------------

  private[graft] val BootB = 32
  /** Poisson(1) CDF at 0..3 — literal doubles, identical in both engines;
    * weights cap at 4 (P ≈ 0.004 tail folded into the last bucket). */
  private[graft] val PoisCdf = Seq(0.3678794411714423, 0.7357588823428846,
    0.9196986029286058, 0.9810118431238462)

  /** q48 — bootstrap confidence interval for the per-language mean token
    * count via the POISSON bootstrap (Chamandy et al., Google 2012
    * "Estimating uncertainty for massive data streams"): the classical
    * bootstrap needs n draws per replicate (a shuffle per resample at
    * scale); the Poisson approximation gives every row an independent
    * Poisson(1) weight per replicate, so ALL [[BootB]] resamples are
    * scan-local weight columns folded by one map-side-combinable
    * aggregation. Weights here are deterministic: u = h60(doc:b)/2⁵³
    * inverse-CDF'd through literal Poisson(1) thresholds, so the whole
    * resampling mirrors in DuckDB and is hash-checked. Replicate means are
    * rounded (q33 parity), and the CI is the exact 5th/95th percentile of
    * the [[BootB]] means via the proven percentile↔quantile_cont pairing.
    *
    * Scale shape: one explode (×[[BootB]]) of the per-doc metric row —
    * NOT of the text — then (lang, b)-keyed decimal sums and an L-row
    * percentile; no shuffle ever moves more than metric rows. */
  def q48BootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bootstrapCi(Tables.documents(s, dir)
      .select($"doc_id", $"lang", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** q48's core over an explicit (doc_id, lang, x) relation — exposed so
    * the spec can plant a constant metric (every resample mean collapses
    * to the constant, pinning the whole weight/mean/percentile path). */
  private[graft] def bootstrapCi(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    val docs = metric.cache() // feeds the replicates AND the point estimate
    val reps = docs
      .select($"lang", $"x", explode(sequence(lit(0), lit(BootB - 1))).as("b"),
        $"doc_id")
      .withColumn("u",
        (DedupLsh.h60(concat($"doc_id".cast("string"), lit(":"), $"b".cast("string")))
          % lit(9007199254740992L)).cast("double") / lit(9007199254740992.0))
      .withColumn("w",
        when($"u" < PoisCdf(0), 0).when($"u" < PoisCdf(1), 1)
          .when($"u" < PoisCdf(2), 2).when($"u" < PoisCdf(3), 3).otherwise(4))
    val bm = reps.groupBy($"lang", $"b")
      .agg(r(dsum($"w" * $"x") / sum($"w"), 6).as("mb"))
    val ci = bm.groupBy($"lang")
      .agg(r(percentile($"mb", lit(0.05)), 6).as("boot_lo"),
        r(percentile($"mb", lit(0.95)), 6).as("boot_hi"))
    val out = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), r(davg($"x"), 6).as("mean_x"))
      .join(ci, "lang")
      .select($"lang", $"n_docs", $"mean_x", $"boot_lo", $"boot_hi")
      .orderBy($"lang")
      .localCheckpoint(true)
    docs.unpersist(blocking = false)
    out
  }

  val q48Sql: String = {
    val wCase = s"""CASE WHEN u < ${PoisCdf(0)} THEN 0
      WHEN u < ${PoisCdf(1)} THEN 1 WHEN u < ${PoisCdf(2)} THEN 2
      WHEN u < ${PoisCdf(3)} THEN 3 ELSE 4 END"""
    s"""WITH d AS MATERIALIZED (SELECT doc_id, lang,
         len(${TextOps.toksSql("lower(text)")}) AS x FROM documents),
       rep AS (SELECT doc_id, lang, x, unnest(range(0, $BootB)) AS b FROM d),
       uu AS (SELECT lang, b, x,
         CAST(${DedupLsh.h60Sql("doc_id::VARCHAR || ':' || b::VARCHAR")}
           % 9007199254740992 AS DOUBLE) / 9007199254740992.0 AS u
       FROM rep),
       ww AS (SELECT lang, b, x, $wCase AS w FROM uu),
       bm AS (SELECT lang, b,
         ${rSql(s"${dsumSql("w * x")} / CAST(sum(w) AS BIGINT)", 6)} AS mb
       FROM ww GROUP BY lang, b),
       ci AS (SELECT lang, ${rSql("quantile_cont(mb, 0.05)", 6)} AS boot_lo,
         ${rSql("quantile_cont(mb, 0.95)", 6)} AS boot_hi
       FROM bm GROUP BY lang),
       base AS (SELECT lang, count(*) AS n_docs,
         ${rSql(davgSql("x"), 6)} AS mean_x FROM d GROUP BY lang)
       SELECT base.lang AS lang, n_docs, mean_x, boot_lo, boot_hi
       FROM base JOIN ci ON ci.lang = base.lang
       ORDER BY base.lang"""
  }


  // --- q124: Jarque–Bera normality test per source ---------------------------

  /** q124's shared texts: central moments assembled from the raw decimal
    * power sums (one algebraic identity per moment — no second pass),
    * skewness/kurtosis via MULTIPLICATION chains (m2·√m2, m2·m2 — never
    * pow(), the m05 libm-parity rule), and the JB statistic. */
  private val JbMean = "(sx / nn)"
  private val JbM2 = s"(sxx / nn - $JbMean * $JbMean)"
  private val JbM3 =
    s"(sx3 / nn - 3.0 * $JbMean * sxx / nn + 2.0 * $JbMean * $JbMean * $JbMean)"
  private val JbM4 =
    s"(sx4 / nn - 4.0 * $JbMean * sx3 / nn + 6.0 * $JbMean * $JbMean * sxx / nn" +
      s" - 3.0 * $JbMean * $JbMean * $JbMean * $JbMean)"
  private val JbS = s"($JbM3 / ($JbM2 * sqrt($JbM2)))"
  private val JbK = s"($JbM4 / ($JbM2 * $JbM2))"
  private val JbStat =
    s"(nn / 6.0 * ($JbS * $JbS + ($JbK - 3.0) * ($JbK - 3.0) / 4.0))"

  /** q124 — the Jarque–Bera normality test per source over the document
    * token counts: JB = n/6·(S² + (K−3)²/4) from the sample skewness and
    * kurtosis — the standard screen run BEFORE the parametric tests that
    * assume normality (q119's Bartlett is notoriously sensitive to
    * exactly the departure JB measures; reporting them together is the
    * textbook pairing). Exactness: the integer metric's four power sums
    * accumulate as exact decimals (x⁴ in BIGINT — exact to x ≤ 55k,
    * far past any document's token count); every division and root runs
    * in one shared expression text; degenerate groups (zero variance or
    * n < 4) are excluded by pinned convention.
    *
    * Scale shape: ONE map-side-combinable power-sum aggregation;
    * everything after is |sources| rows. */
  def q124JarqueBera(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jarqueBera(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** q124's core over an explicit (source, x) relation — exposed so the
    * spec can pin hand-computed moments and the symmetric-sample law. */
  private[graft] def jarqueBera(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = dsum(c) // Num's decimal-moment policy
    metric.filter($"x".isNotNull)
      .select($"source", $"x".cast("long").as("xl"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        m($"xl").as("sx"), m($"xl" * $"xl").as("sxx"),
        m($"xl" * $"xl" * $"xl").as("sx3"),
        m($"xl" * $"xl" * $"xl" * $"xl").as("sx4"))
      .filter($"n_docs" >= 4)
      .withColumn("nn", $"n_docs".cast("double"))
      .filter(expr(JbM2) > 0)
      .select($"source", $"n_docs",
        r(expr(JbS), 6).as("skewness"),
        r(expr(JbK), 6).as("kurtosis"),
        r(expr(JbStat), 6).as("jb_stat"))
      .orderBy($"source")
  }

  val q124Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""WITH jx AS (SELECT source, CAST(x AS BIGINT) AS xl FROM
         (SELECT source, len(${TextOps.toksSql("lower(text)")}) AS x
          FROM documents) z WHERE x IS NOT NULL),
       jm AS (SELECT source, count(*) AS n_docs,
           ${m("xl")} AS sx, ${m("xl * xl")} AS sxx,
           ${m("xl * xl * xl")} AS sx3, ${m("xl * xl * xl * xl")} AS sx4
         FROM jx GROUP BY source),
       jp AS (SELECT source, n_docs, sx, sxx, sx3, sx4,
           CAST(n_docs AS DOUBLE) AS nn
         FROM jm WHERE n_docs >= 4)
       SELECT source, n_docs,
         ${rSql(JbS, 6)} AS skewness,
         ${rSql(JbK, 6)} AS kurtosis,
         ${rSql(JbStat, 6)} AS jb_stat
       FROM jp WHERE $JbM2 > 0 ORDER BY source"""
  }

  // --- q47: lagged autocorrelation of the hourly event series -------------

  private val AcfLags = Seq(1, 2, 3, 24)

  /** q47 — sample autocorrelation: Pearson correlation between the hourly
    * mean-value series and itself at lags 1/2/3/24 h, per event_type —
    * the seasonality/persistence diagnostic run before any time-series
    * model (lag-24 ≈ daily cycle). The series points are the ROUNDED
    * decimal hourly means (q33 parity path), the lagged pairing is an
    * integer equi-join on epoch-hour seconds (hx + lag·3600 — no interval
    * arithmetic to diverge between engines), and the correlation is q35's
    * decimal-moment formula evaluated from shared expression text.
    *
    * Scale shape: ONE map-side-combinable aggregation over events (the
    * t02 rollup), then everything downstream is series-sized — the series
    * grows with TIME, not corpus volume, so the lag join is bounded at
    * any data scale; the tiny lag table is a broadcast literal. */
  def q47Autocorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    val acf = "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))"
    // cached: the hourly series feeds both sides of the lag join
    // (CLAUDE.md invariant 5)
    val hourly = Tables.events(s, dir)
      .groupBy($"event_type",
        unix_timestamp(date_trunc("hour", $"ts")).as("hx"))
      .agg(r(davg($"value"), 6).as("x"))
      .cache()
    val lags = AcfLags.toDF("lag")
    val b = hourly.select($"event_type".as("et2"), $"hx".as("hx2"), $"x".as("y"))
    val out = hourly
      .crossJoin(broadcast(lags))
      .join(b, $"et2" === $"event_type" && $"hx2" === $"hx" + $"lag" * 3600)
      .groupBy($"event_type", $"lag")
      .agg(count(lit(1)).as("n0"),
        m($"x").as("sx"), m($"x" * $"x").as("sxx"),
        m($"y").as("sy"), m($"y" * $"y").as("syy"),
        m($"x" * $"y").as("sxy"))
      .select($"event_type", $"lag", $"n0".as("n_pairs"),
        $"n0".cast("double").as("n"), $"sx", $"sxx", $"sy", $"syy", $"sxy")
      .select($"event_type", $"lag", $"n_pairs", r(expr(acf), 6).as("acf"))
      .orderBy($"event_type", $"lag")
      .localCheckpoint(true)
    hourly.unpersist(blocking = false)
    out
  }

  val q47Sql: String = {
    def m(e: String) = decMomentSql(e)
    val acf = "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))"
    s"""WITH h AS MATERIALIZED (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS x
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       lg AS (SELECT * FROM (VALUES (1), (2), (3), (24)) t(lag)),
       p AS (SELECT a.event_type, lag, a.x AS x, b.x AS y
         FROM h a CROSS JOIN lg
         JOIN h b ON b.event_type = a.event_type
           AND b.hx = a.hx + lag * 3600),
       mo AS (SELECT event_type, lag, count(*) AS n0,
         ${m("x")} AS sx, ${m("x * x")} AS sxx, ${m("y")} AS sy,
         ${m("y * y")} AS syy, ${m("x * y")} AS sxy
       FROM p GROUP BY event_type, lag)
       SELECT event_type, lag, n0 AS n_pairs, ${rSql(acf, 6)} AS acf
       FROM (SELECT event_type, lag, n0, CAST(n0 AS DOUBLE) AS n,
         sx, sxx, sy, syy, sxy FROM mo) z
       ORDER BY event_type, lag"""
  }

  /** q123's per-source χ² contribution over exact integers: both
    * (o − e)²/e cells, e = nᵢ·M/N from the margins. */
  private def moodCell(o: String, mm: String): String =
    s"((CAST($o AS DOUBLE) - CAST(n0 AS DOUBLE) * CAST($mm AS DOUBLE) / nn) * " +
      s"(CAST($o AS DOUBLE) - CAST(n0 AS DOUBLE) * CAST($mm AS DOUBLE) / nn) / " +
      s"(CAST(n0 AS DOUBLE) * CAST($mm AS DOUBLE) / nn))"
  private val MoodTerm =
    s"(${moodCell("n_above", "m_above")} + " +
      s"${moodCell("(n0 - n_above)", "(n_total - m_above)")})"

  /** q123 — Mood's median test: does each source put the same FRACTION
    * of its documents above the corpus-wide median length? The bluntest
    * and most robust of the k-sample location tests (only the sign
    * relative to the grand median enters — immune to any outlier
    * magnitude; the χ² companion to q66's rank-based KW on the same
    * question). Grand median via the proven percentile↔quantile_cont
    * pairing on the integer metric, rounded before comparison; ties
    * count AT-OR-BELOW by pinned convention; per-source χ² terms round
    * at 10dp and re-enter decimal (order-free, the q117 discipline);
    * an all-above or all-below margin (expected count 0) emits nothing
    * by pinned convention.
    *
    * Scale shape: one exact-percentile aggregate + one broadcast + one
    * map-side-combinable count pass; everything after is |sources| rows. */
  def q123MoodMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    moodMedian(Tables.documents(s, dir)
      .select($"source", size(TextOps.toks(lower($"text"))).as("x")))
  }

  /** q123's core over an explicit (source, x) relation — exposed so the
    * spec can pin a hand-computed χ² and the proportional zero law. */
  private[graft] def moodMedian(metric: DataFrame): DataFrame = {
    val s = metric.sparkSession
    import s.implicits._
    val mx = metric.filter($"x".isNotNull).cache()
    val med = mx.agg(r(percentile($"x", lit(0.5)), 6).as("gm"))
    val cells = mx.crossJoin(broadcast(med))
      .groupBy($"source")
      .agg(count(lit(1)).as("n0"),
        sum(($"x" > $"gm").cast("long")).as("n_above"),
        max($"gm").as("gm"))
      .localCheckpoint(true) // feeds margins, terms, and the output
    mx.unpersist(blocking = false)
    val marg = cells.agg(sum($"n0").as("n_total"), sum($"n_above").as("m_above"))
    val terms = cells.crossJoin(broadcast(marg))
      .filter($"m_above" > 0 && $"m_above" < $"n_total")
      .withColumn("nn", $"n_total".cast("double"))
      .withColumn("term", r(expr(MoodTerm), 10))
    val chi = terms.agg(count(lit(1)).as("k_groups"), rsum($"term", 10).as("c10"))
    terms.crossJoin(broadcast(chi))
      .select($"source", $"n0".as("n_docs"), $"n_above", $"gm",
        r($"n_above".cast("double") / $"n0".cast("double"), 6).as("frac_above"),
        $"k_groups", r($"c10", 6).as("chi2_stat"))
      .orderBy($"source")
  }

  val q123Sql: String =
    s"""WITH mxq AS MATERIALIZED (SELECT source, x FROM
         (SELECT source, len(${TextOps.toksSql("lower(text)")}) AS x
          FROM documents) z WHERE x IS NOT NULL),
       md AS (SELECT ${rSql("quantile_cont(x, 0.5)", 6)} AS gm FROM mxq),
       cells AS (SELECT source, count(*) AS n0,
           CAST(sum(CASE WHEN x > gm THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           max(gm) AS gm
         FROM mxq CROSS JOIN md GROUP BY source),
       marg AS (SELECT CAST(sum(n0) AS BIGINT) AS n_total,
           CAST(sum(n_above) AS BIGINT) AS m_above FROM cells),
       terms AS (SELECT source, n0, n_above, gm, n_total, m_above,
           ${rSql(MoodTerm, 10)} AS term
         FROM (SELECT c.*, m.n_total, m.m_above,
             CAST(m.n_total AS DOUBLE) AS nn
           FROM cells c CROSS JOIN marg m) y
         WHERE m_above > 0 AND m_above < n_total),
       chi AS (SELECT count(*) AS k_groups, ${rsumSql("term", 10)} AS c10
         FROM terms)
       SELECT source, n0 AS n_docs, n_above, gm,
         ${rSql("CAST(n_above AS DOUBLE) / CAST(n0 AS DOUBLE)", 6)} AS frac_above,
         k_groups, ${rSql("c10", 6)} AS chi2_stat
       FROM terms CROSS JOIN chi
       ORDER BY source"""

  // --- q83: lagged cross-correlation between event types ---------------------

  /** q83's lag grid in hours: negative = a LEADS b. */
  private val XcorrLags = Seq(-3, -1, 0, 1, 3)

  /** q83 — lagged cross-correlation between every ordered pair of
    * event types on the hourly mean series (q47 asks "does a series
    * predict ITSELF?"; q83 asks "does type a LEAD type b?" — the
    * lead-lag discovery behind alert-precursor mining: a peak at lag
    * +1 h means a's activity one hour ago correlates with b's now).
    * Same machinery as q47: rounded decimal hourly means, integer
    * epoch-hour lag equi-join (never interval arithmetic), q35's
    * fixed-order moment formula; degenerate (constant-overlap) pairs
    * drop via the positive-variance guard.
    *
    * Scale shape: one map-side-combinable hourly rollup; the pair×lag
    * join lives on the (types² × lags × hours) axis — time-grown. */
  def q83CrossCorrelation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    crossCorrelation(Tables.events(s, dir)
      .groupBy($"event_type",
        unix_timestamp(date_trunc("hour", $"ts")).as("hx"))
      .agg(r(davg($"value"), 6).as("x")))
  }

  /** q83's core over an explicit (event_type, hx, x) hourly relation —
    * exposed so the spec can plant a shifted-copy pair. */
  private[graft] def crossCorrelation(hourly0: DataFrame): DataFrame = {
    val s = hourly0.sparkSession
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    val xc = "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))"
    val hourly = hourly0.cache() // both sides of the lag join
    val lags = XcorrLags.toDF("lag")
    val b = hourly.select($"event_type".as("type_b"), $"hx".as("hx2"), $"x".as("y"))
    val out = hourly
      .crossJoin(broadcast(lags))
      .join(b, $"type_b" =!= $"event_type" && $"hx2" === $"hx" + $"lag" * 3600)
      .groupBy($"event_type", $"type_b", $"lag")
      .agg(count(lit(1)).as("n0"),
        m($"x").as("sx"), m($"x" * $"x").as("sxx"),
        m($"y").as("sy"), m($"y" * $"y").as("syy"),
        m($"x" * $"y").as("sxy"))
      .withColumn("n", $"n0".cast("double"))
      .filter(expr("n * sxx - sx * sx") > 0 && expr("n * syy - sy * sy") > 0)
      .select($"event_type".as("type_a"), $"type_b", $"lag",
        $"n0".as("n_pairs"), r(expr(xc), 6).as("xcorr"))
      .orderBy($"type_a", $"type_b", $"lag")
      .localCheckpoint(true)
    hourly.unpersist(blocking = false)
    out
  }

  val q83Sql: String = {
    def m(e: String) = decMomentSql(e)
    val xc = "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))"
    val grid = XcorrLags.map(l => s"($l)").mkString(", ")
    s"""WITH h AS MATERIALIZED (SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         ${rSql(davgSql("value"), 6)} AS x
       FROM events GROUP BY event_type, date_trunc('hour', ts)),
       lg AS (SELECT * FROM (VALUES $grid) t(lag)),
       p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, lag,
           a.x AS x, b.x AS y
         FROM h a CROSS JOIN lg
         JOIN h b ON b.event_type != a.event_type
           AND b.hx = a.hx + lag * 3600),
       mo AS (SELECT type_a, type_b, lag, count(*) AS n0,
         ${m("x")} AS sx, ${m("x * x")} AS sxx, ${m("y")} AS sy,
         ${m("y * y")} AS syy, ${m("x * y")} AS sxy
       FROM p GROUP BY type_a, type_b, lag),
       fz AS (SELECT type_a, type_b, lag, n0, CAST(n0 AS DOUBLE) AS n,
         sx, sxx, sy, syy, sxy FROM mo)
       SELECT type_a, type_b, lag, n0 AS n_pairs, ${rSql(xc, 6)} AS xcorr
       FROM fz
       WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
       ORDER BY type_a, type_b, lag"""
  }

  // --- q90: CUPED variance reduction (pre-period covariate) -----------------

  /** The experiment-period boundary: the month splits 15+15 days, so both
    * periods are populated at every scale (events span 2024-01). */
  private val CupedSplit = "2024-01-16 00:00:00"

  /** Shared CUPED algebra over the one-row integer moment table
    * (n/sx/sy/sxx/syy/sxy plus per-variant n0/n1/sx0/sx1/sy0/sy1) — one
    * text, identical IEEE order in both engines. All moments are exact
    * integers (counts), so every double below is born from one cast. */
  private val CuCov  = "CAST(n * sxy - sx * sy AS DOUBLE)"
  private val CuVarX = "CAST(n * sxx - sx * sx AS DOUBLE)"
  private val CuVarY = "CAST(n * syy - sy * sy AS DOUBLE)"
  private val CuTheta = s"($CuCov / $CuVarX)"
  private val CuMy0 = "(CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
  private val CuMy1 = "(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
  private val CuMx0 = "(CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
  private val CuMx1 = "(CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
  private val CuLift = s"($CuMy1 - $CuMy0)"
  private val CuLiftCv = s"($CuLift - $CuTheta * ($CuMx1 - $CuMx0))"
  private val CuVarRed = s"(($CuCov * $CuCov) / ($CuVarX * $CuVarY))"

  /** q90 — CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013
    * "Improving the sensitivity of online controlled experiments by
    * utilizing pre-experiment data"): per user, x = pre-period event
    * count (covariate), y = experiment-period event count (metric),
    * variant = h60(user) mod 2 (the same deterministic assignment family
    * as the s-series splits). θ = cov(x,y)/var(x) POOLED (the standard
    * estimator — θ uses no variant information, so it cannot bias the
    * lift), adjusted lift = lift − θ·(x̄₁ − x̄₀), and the variance
    * reduction is exactly ρ²(x,y) because var(y − θx) = var(y)(1 − ρ²)
    * at the OLS θ.
    *
    * Numeric policy: x and y are integer counts, so every moment
    * (Σx, Σy, Σx², Σy², Σxy, per-variant sums) is an EXACT integer from
    * one map-side-combinable aggregation; each reported double is a
    * fixed-order expression over one-cast integers — no double summation
    * anywhere. Scale shape: one groupBy(user) over the fact scan, one
    * 1-row moment aggregation; the test itself is free at any scale. */
  def q90Cuped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cuped(Tables.events(s, dir).select($"user_id", $"ts"))
  }

  /** q90's core over an explicit (user_id, ts) relation — exposed so the
    * spec can plant a perfectly-correlated plant (var_reduction = 1). */
  private[graft] def cuped(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val cut = lit(CupedSplit).cast("timestamp")
    val pu = ev.groupBy($"user_id")
      .agg(sum(when($"ts" < cut, 1L).otherwise(0L)).as("x"),
        sum(when($"ts" >= cut, 1L).otherwise(0L)).as("y"))
      .withColumn("v", DedupLsh.h60($"user_id".cast("string")) % 2)
    pu.agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"),
        sum(when($"v" === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"v" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"v" === 0, $"x").otherwise(0L)).as("sx0"),
        sum(when($"v" === 1, $"x").otherwise(0L)).as("sx1"),
        sum(when($"v" === 0, $"y").otherwise(0L)).as("sy0"),
        sum(when($"v" === 1, $"y").otherwise(0L)).as("sy1"))
      .filter(expr(CuVarX) > 0 && expr(CuVarY) > 0 && $"n0" > 0 && $"n1" > 0)
      .select($"n", $"n0", $"n1",
        r(expr(CuTheta), 6).as("theta"),
        r(expr(CuMy0), 6).as("mean_y0"),
        r(expr(CuMy1), 6).as("mean_y1"),
        r(expr(CuLift), 6).as("lift"),
        r(expr(CuLiftCv), 6).as("lift_cv"),
        r(expr(CuVarRed), 6).as("var_reduction"))
      .orderBy($"n")
  }

  val q90Sql: String =
    s"""WITH pu AS (SELECT user_id,
         ${DedupLsh.h60Sql("CAST(user_id AS VARCHAR)")} % 2 AS v,
         CAST(sum(CASE WHEN ts < TIMESTAMP '$CupedSplit' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '$CupedSplit' THEN 1 ELSE 0 END) AS BIGINT) AS y
       FROM events GROUP BY user_id),
       mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN v = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         CAST(sum(CASE WHEN v = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         CAST(sum(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
         CAST(sum(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
       FROM pu)
       SELECT n, n0, n1,
         ${rSql(CuTheta, 6)} AS theta,
         ${rSql(CuMy0, 6)} AS mean_y0,
         ${rSql(CuMy1, 6)} AS mean_y1,
         ${rSql(CuLift, 6)} AS lift,
         ${rSql(CuLiftCv, 6)} AS lift_cv,
         ${rSql(CuVarRed, 6)} AS var_reduction
       FROM mo
       WHERE $CuVarX > 0 AND $CuVarY > 0 AND n0 > 0 AND n1 > 0
       ORDER BY n"""

  // --- q91: ratio-metric standard error (jackknife + delta method) ----------

  /** q91 — standard error of a ratio-of-sums metric with the USER as the
    * randomization unit (conversion ratio R = Σ purchases / Σ clicks):
    * the naive binomial SE is wrong because events cluster within users,
    * so both classical answers are computed side by side —
    * leave-one-user-out JACKKNIFE (Quenouille/Tukey; R₍ᵢ₎ =
    * (Sy−yᵢ)/(Sm−mᵢ), var = (n−1)/n · Σ(R₍ᵢ₎ − R̄₍·₎)²) and the DELTA
    * METHOD linearization (var ≈ Σ(yᵢ − R̂·mᵢ)² / Sm²). The two are
    * asymptotically equal; the spec plants a perfectly-proportional
    * corpus where BOTH collapse to exactly zero.
    *
    * Numeric policy: per-user y/m are integer counts; R₍ᵢ₎ is one double
    * division, rounded to 9 dp and summed IN DECIMAL (order-independent,
    * the q78/ml11 re-entry pattern); squared deviations re-enter decimal
    * at 12 dp; the delta form is pure integer moments + one R̂. Scale
    * shape: one groupBy(user), a 1-row totals broadcast, two tiny
    * aggregations over the n-user frame — no sort, no window. */
  def q91RatioJackknife(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ratioJackknife(Tables.events(s, dir)
      .select($"user_id",
        when($"event_type" === "purchase", 1L).otherwise(0L).as("yy"),
        when($"event_type" === "click", 1L).otherwise(0L).as("mm")))
  }

  /** q91's core over (user_id, yy, mm) indicator rows — exposed for the
    * proportional-plant spec. */
  private[graft] def ratioJackknife(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val pu = ev.groupBy($"user_id")
      .agg(sum($"yy").as("y"), sum($"mm").as("m"))
      .localCheckpoint(true) // feeds totals AND both deviation passes
    val tot = pu.agg(count(lit(1)).as("n"), sum($"y").as("sy"), sum($"m").as("sm"),
      sum($"y" * $"y").as("syy"), sum($"m" * $"m").as("smm"),
      sum($"y" * $"m").as("sym"))
    val wj = pu.crossJoin(broadcast(tot))
      .filter($"sm" - $"m" > 0)
      .withColumn("rj", r(($"sy" - $"y").cast("double") / ($"sm" - $"m").cast("double"), 9))
    val rb = wj.groupBy($"n", $"sy", $"sm", $"syy", $"smm", $"sym")
      .agg(count(lit(1)).as("nj"), dsum($"rj").as("s1"))
      .withColumn("rbar", $"s1" / $"nj".cast("double"))
    val out = wj.select($"rj")
      .crossJoin(broadcast(rb))
      .withColumn("d2", r(($"rj" - $"rbar") * ($"rj" - $"rbar"), 12))
      .groupBy($"n", $"nj", $"sy", $"sm", $"syy", $"smm", $"sym", $"rbar")
      .agg(dsum($"d2").as("s2"))
      .withColumn("rhat", $"sy".cast("double") / $"sm".cast("double"))
      .select($"n".as("n_users"), $"sy".as("sum_y"), $"sm".as("sum_m"),
        r($"rhat", 6).as("ratio"),
        r(sqrt(($"nj" - 1).cast("double") / $"nj".cast("double") * $"s2"), 6)
          .as("se_jack"),
        r(sqrt(($"syy".cast("double") - lit(2.0) * $"rhat" * $"sym".cast("double") +
          $"rhat" * $"rhat" * $"smm".cast("double")) /
          ($"sm".cast("double") * $"sm".cast("double"))), 6).as("se_delta"))
      .orderBy($"n_users")
      .localCheckpoint(true)
    pu.unpersist(blocking = false)
    out
  }

  val q91Sql: String =
    s"""WITH pu AS (SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS m
       FROM events GROUP BY user_id),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(m) AS BIGINT) AS sm, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(m * m) AS BIGINT) AS smm, CAST(sum(y * m) AS BIGINT) AS sym
       FROM pu),
       wj AS (SELECT n, sy, sm, syy, smm, sym,
         ${rSql("CAST(sy - y AS DOUBLE) / CAST(sm - m AS DOUBLE)", 9)} AS rj
       FROM pu CROSS JOIN tot WHERE sm - m > 0),
       rb AS (SELECT n, sy, sm, syy, smm, sym, CAST(count(*) AS BIGINT) AS nj,
         ${dsumSql("rj")} AS s1
       FROM wj GROUP BY n, sy, sm, syy, smm, sym),
       rb2 AS (SELECT *, s1 / CAST(nj AS DOUBLE) AS rbar FROM rb),
       dv AS (SELECT wj.n, rb2.nj, wj.sy, wj.sm, wj.syy, wj.smm, wj.sym, rb2.rbar,
         ${rSql("(wj.rj - rb2.rbar) * (wj.rj - rb2.rbar)", 12)} AS d2
       FROM wj CROSS JOIN rb2),
       ag AS (SELECT n, nj, sy, sm, syy, smm, sym, rbar, ${dsumSql("d2")} AS s2
       FROM dv GROUP BY n, nj, sy, sm, syy, smm, sym, rbar),
       fin AS (SELECT *, CAST(sy AS DOUBLE) / CAST(sm AS DOUBLE) AS rhat FROM ag)
       SELECT n AS n_users, sy AS sum_y, sm AS sum_m,
         ${rSql("rhat", 6)} AS ratio,
         ${rSql("sqrt(CAST(nj - 1 AS DOUBLE) / CAST(nj AS DOUBLE) * s2)", 6)} AS se_jack,
         ${rSql("sqrt((CAST(syy AS DOUBLE) - 2.0 * rhat * CAST(sym AS DOUBLE) + rhat * rhat * CAST(smm AS DOUBLE)) / (CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)))", 6)} AS se_delta
       FROM fin
       ORDER BY n_users"""

  // q114's shared expression texts (Spark expr ≡ DuckDB SQL): n-scaled
  // centered moments, Cramer's rule for the 2-regressor fit, and the
  // Granger F — the n-scalings cancel, so everything stays in the exact
  // decimal-moment currency until the final divisions
  private val GrA = "(n * suu - su * su)"
  private val GrB = "(n * svv - sv * sv)"
  private val GrC = "(n * suv - su * sv)"
  private val GrD = "(n * suw - su * sw)"
  private val GrE = "(n * svw - sv * sw)"
  private val GrW = "(n * sww - sw * sw)"
  private val GrDet = s"($GrA * $GrB - $GrC * $GrC)"
  private val GrB1 = s"(($GrD * $GrB - $GrE * $GrC) / $GrDet)"
  private val GrB2 = s"(($GrE * $GrA - $GrD * $GrC) / $GrDet)"
  private val GrWf = s"($GrW - $GrB1 * $GrD - $GrB2 * $GrE)"
  private val GrWr = s"($GrW - $GrD * $GrD / $GrA)"
  private val GrF =
    s"CASE WHEN n > 3.0 AND $GrA > 0 AND $GrDet > 0 AND $GrWf > 0 " +
      s"THEN ($GrWr - $GrWf) * (n - 3.0) / $GrWf END"

  /** q114 — GRANGER causality screen (Granger 1969) between the two
    * hourly telemetry series (event volume x, value mass y): does
    * yesterday's x improve the one-lag autoregression of y beyond y's
    * own past (and vice versa)? F = ((RSS_r − RSS_f)/1)/(RSS_f/(n−3))
    * comparing the restricted AR(1) against the full model with the
    * other series' lag — the standard lead/lag screen before anyone
    * trusts a dashboard's "x drives y" story. Both directions from ONE
    * consecutive-hour self-join (q47's integer epoch-hour axis — no
    * calendar parity, no windows over corpus rows): the pair rows are
    * tagged with their direction and aggregated once; OLS closed-form
    * via Cramer on exact decimal moments (the ml03 pattern), one shared
    * final-division text. Insufficient/degenerate series yield NULL
    * (guards spec-pinned).
    *
    * Scale shape: two uniform aggregations (hourly rollup, per-direction
    * moments) + one equi-join on the hour key — series-sized state,
    * corpus-linear scan. */
  def q114Granger(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    grangerOf(Tables.events(s, dir)
      .groupBy(unix_timestamp(date_trunc("hour", $"ts")).as("hx"))
      .agg(count(lit(1)).cast("double").as("x"), r(dsum($"value"), 6).as("y")))
  }

  /** q114's core over an (hx, x, y) series frame — exposed so the spec
    * can plant a one-lag causal dependence (F(x→y) ≫ F(y→x)) and the
    * degenerate guards. */
  private[graft] def grangerOf(hourly0: DataFrame): DataFrame = {
    val s = hourly0.sparkSession
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,10)")).cast("double")
    // cached: the hourly series feeds both sides of the lag join
    // (CLAUDE.md invariant 5)
    val hourly = hourly0.cache()
    val b = hourly.select($"hx".as("hx2"), $"x".as("xt"), $"y".as("yt"))
    val pairs = hourly
      .join(b, $"hx2" === $"hx" + 3600)
      .select(
        // direction 1: does x Granger-cause y?  w = y_t, u = y_{t−1}, v = x_{t−1}
        // direction 2: mirrored
        explode(array(
          struct(lit("x_causes_y").as("direction"),
            $"yt".as("w"), $"y".as("u"), $"x".as("v")),
          struct(lit("y_causes_x").as("direction"),
            $"xt".as("w"), $"x".as("u"), $"y".as("v")))).as("d"))
      .select($"d.direction", $"d.w", $"d.u", $"d.v")
    val out = pairs.groupBy($"direction")
      .agg(count(lit(1)).as("n_pairs"),
        m($"u").as("su"), m($"v").as("sv"), m($"w").as("sw"),
        m($"u" * $"u").as("suu"), m($"v" * $"v").as("svv"),
        m($"w" * $"w").as("sww"),
        m($"u" * $"v").as("suv"), m($"u" * $"w").as("suw"),
        m($"v" * $"w").as("svw"))
      .withColumn("n", $"n_pairs".cast("double"))
      .select($"direction", $"n_pairs", r(expr(GrF), 6).as("f_stat"))
      .orderBy($"direction")
      .localCheckpoint(true)
    hourly.unpersist(blocking = false)
    out
  }

  lazy val q114Sql: String = {
    def m(e: String) = decMomentSql(e)
    s"""WITH h AS MATERIALIZED (SELECT
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hx,
         CAST(count(*) AS DOUBLE) AS x, ${rSql(dsumSql("value"), 6)} AS y
       FROM events GROUP BY date_trunc('hour', ts)),
       p AS (SELECT a.x AS x, a.y AS y, b.x AS xt, b.y AS yt
         FROM h a JOIN h b ON b.hx = a.hx + 3600),
       d AS (SELECT 'x_causes_y' AS direction, yt AS w, y AS u, x AS v FROM p
             UNION ALL
             SELECT 'y_causes_x', xt, x, y FROM p),
       mo AS (SELECT direction, CAST(count(*) AS BIGINT) AS n_pairs,
         ${m("u")} AS su, ${m("v")} AS sv, ${m("w")} AS sw,
         ${m("u * u")} AS suu, ${m("v * v")} AS svv, ${m("w * w")} AS sww,
         ${m("u * v")} AS suv, ${m("u * w")} AS suw, ${m("v * w")} AS svw
       FROM d GROUP BY direction),
       mo2 AS (SELECT *, CAST(n_pairs AS DOUBLE) AS n FROM mo)
       SELECT direction, n_pairs, ${rSql(GrF, 6)} AS f_stat
       FROM mo2 ORDER BY direction"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q90_cuped" -> (q90Cuped _),
    "q91_ratio_jackknife" -> (q91RatioJackknife _),
    "q65_new_vs_returning" -> (q65NewVsReturning _),
    "q66_kruskal_wallis" -> (q66KruskalWallis _),
    "q116_dunn_posthoc" -> (q116DunnPosthoc _),
    "q117_cramer_von_mises" -> (q117CramerVonMises _),
    "q118_friedman" -> (q118Friedman _),
    "q119_bartlett" -> (q119Bartlett _),
    "q120_nemenyi" -> (q120Nemenyi _),
    "q121_anderson_darling" -> (q121AndersonDarling _),
    "q123_mood_median" -> (q123MoodMedian _),
    "q124_jarque_bera" -> (q124JarqueBera _),
    "q67_lag_features" -> (q67LagFeatures _),
    "q64_basket_rules" -> (q64BasketRules _),
    "q62_robust_outliers" -> (q62RobustOutliers _),
    "q61_holt_forecast" -> (q61HoltForecast _),
    "q69_holt_winters" -> (q69HoltWinters _),
    "q70_runs_test" -> (q70RunsTest _),
    "q71_winsorized_stats" -> (q71WinsorizedStats _),
    "q72_lttb_downsample" -> (q72LttbDownsample _),
    "q73_equidepth_hist" -> (q73EquidepthHist _),
    "q74_active_users" -> (q74ActiveUsers _),
    "q75_skew_report" -> (q75SkewReport _),
    "q76_event_paths" -> (q76EventPaths _),
    "q77_weighted_median" -> (q77WeightedMedian _),
    "q59_seasonal_decomp" -> (q59SeasonalDecomp _),
    "q58_markov" -> (q58Markov _),
    "q57_gini" -> (q57Gini _),
    "q68_gini_hist" -> (q68GiniHist _),
    "q56_cusum" -> (q56Cusum _),
    "q111_page_hinkley" -> (q111PageHinkley _),
    "q115_tukey_hsd" -> (q115TukeyHsd _),
    "q114_granger" -> (q114Granger _),
    "q113_levene" -> (q113Levene _),
    "q55_theil_sen" -> (q55TheilSen _),
    "q54_mutual_info" -> (q54MutualInfo _),
    "q53_benford" -> (q53Benford _),
    "q52_mannwhitney_u" -> (q52MannWhitneyU _),
    "q51_ks_test" -> (q51KsTest _),
    "q50_chi2_independence" -> (q50Chi2Independence _),
    "q49_welch_ttest" -> (q49WelchTtest _),
    "q78_anova" -> (q78Anova _),
    "q79_spearman" -> (q79Spearman _),
    "q80_mann_kendall" -> (q80MannKendall _),
    "q81_recursive_ewma" -> (q81RecursiveEwma _),
    "q82_sketched_mau" -> (q82SketchedMau _),
    "q83_cross_correlation" -> (q83CrossCorrelation _),
    "q48_bootstrap_ci" -> (q48BootstrapCi _),
    "q47_autocorrelation" -> (q47Autocorr _),
    "q17_asof_join" -> (q17AsofJoin _),
    "q18_range_join" -> (q18RangeJoin _),
    "q19_approx_distinct" -> (q19ApproxDistinct _),
    "q20_scalar_subquery" -> (q20ScalarSubquery _),
    "q21_correlated_agg" -> (q21CorrelatedAgg _),
    "q22_pivot" -> (q22Pivot _),
    "q23_stats_agg" -> (q23StatsAgg _),
    "q24_filtered_multiset" -> (q24FilteredMultiset _),
    "q25_having" -> (q25Having _),
    "q26_unpivot" -> (q26Unpivot _),
    "q27_array_agg" -> (q27ArrayAgg _),
    "q35_regression_agg" -> (q35RegressionAgg _),
    "q37_approx_percentile" -> (q37ApproxPercentile _),
    "q39_sampled_percentile" -> (q39SampledPercentile _),
    "q40_portable_hll" -> (q40PortableHll _),
    "q45_kmv_sketch" -> (q45KmvSketch _),
    "q46_robust_stats" -> (q46RobustStats _))

  /** q19/q37 are engine-private sketches → rows-only + AnalyticsSpec;
    * their portable twins q40/q39 are hash-checked. */
  val oracles: Map[String, String] = Map(
    "q90_cuped" -> q90Sql,
    "q91_ratio_jackknife" -> q91Sql,
    "q65_new_vs_returning" -> q65Sql,
    "q66_kruskal_wallis" -> q66Sql,
    "q116_dunn_posthoc" -> q116Sql,
    "q117_cramer_von_mises" -> q117Sql,
    "q118_friedman" -> q118Sql,
    "q119_bartlett" -> q119Sql,
    "q120_nemenyi" -> q120Sql,
    "q121_anderson_darling" -> q121Sql,
    "q123_mood_median" -> q123Sql,
    "q124_jarque_bera" -> q124Sql,
    "q67_lag_features" -> q67Sql,
    "q64_basket_rules" -> q64Sql,
    "q62_robust_outliers" -> q62Sql,
    "q61_holt_forecast" -> q61Sql,
    "q69_holt_winters" -> q69Sql,
    "q70_runs_test" -> q70Sql,
    "q71_winsorized_stats" -> q71Sql,
    "q72_lttb_downsample" -> q72Sql,
    "q73_equidepth_hist" -> q73Sql,
    "q74_active_users" -> q74Sql,
    "q75_skew_report" -> q75Sql,
    "q76_event_paths" -> q76Sql,
    "q77_weighted_median" -> q77Sql,
    "q59_seasonal_decomp" -> q59Sql,
    "q58_markov" -> q58Sql,
    "q57_gini" -> q57Sql,
    "q68_gini_hist" -> q68Sql,
    "q56_cusum" -> q56Sql,
    "q111_page_hinkley" -> q111Sql,
    "q115_tukey_hsd" -> q115Sql,
    "q114_granger" -> q114Sql,
    "q113_levene" -> q113Sql,
    "q55_theil_sen" -> q55Sql,
    "q54_mutual_info" -> q54Sql,
    "q53_benford" -> q53Sql,
    "q52_mannwhitney_u" -> q52Sql,
    "q51_ks_test" -> q51Sql,
    "q50_chi2_independence" -> q50Sql,
    "q49_welch_ttest" -> q49Sql,
    "q78_anova" -> q78Sql,
    "q79_spearman" -> q79Sql,
    "q80_mann_kendall" -> q80Sql,
    "q81_recursive_ewma" -> q81Sql,
    "q82_sketched_mau" -> q82Sql,
    "q83_cross_correlation" -> q83Sql,
    "q48_bootstrap_ci" -> q48Sql,
    "q47_autocorrelation" -> q47Sql,
    "q39_sampled_percentile" -> q39Sql,
    "q40_portable_hll" -> q40Sql,
    "q45_kmv_sketch" -> q45Sql,
    "q46_robust_stats" -> q46Sql,
    "q17_asof_join" -> q17Sql,
    "q18_range_join" -> q18Sql,
    "q20_scalar_subquery" -> q20Sql,
    "q21_correlated_agg" -> q21Sql,
    "q22_pivot" -> q22Sql,
    "q23_stats_agg" -> q23Sql,
    "q24_filtered_multiset" -> q24Sql,
    "q25_having" -> q25Sql,
    "q26_unpivot" -> q26Sql,
    "q27_array_agg" -> q27Sql,
    "q35_regression_agg" -> q35Sql)
}
