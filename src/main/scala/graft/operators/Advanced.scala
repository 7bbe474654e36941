package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Num._

/** Second wave of relational/analytics operators (SURVEY.md §2.4):
  * distribution window functions, multiset intersection, lateral token
  * expansion, cohort retention, deterministic stratified sampling, and
  * date-spine gap filling. All oracle-checked against DuckDB.
  *
  * Scale notes are per-query; the common theme is one shuffle on the
  * natural key, broadcast for every small side, and total-order output.
  */
object Advanced {

  /** q28 — distribution window functions: quartile (ntile), percent_rank,
    * cume_dist of customers by account balance within market segment.
    * The window order (c_acctbal, c_custkey) is a total order, so every
    * rank function is deterministic; percent_rank/cume_dist are single
    * IEEE divisions of exact integers (identical across engines), rounded
    * through the shared policy anyway. One shuffle on c_mktsegment; at
    * 100 TB a global per-segment sort is the unavoidable cost of exact
    * quantile assignment — the approximate path is percentile_approx. */
  def q28WindowDistribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", r(percent_rank().over(w), 6))
      .withColumn("cume", r(cume_dist().over(w), 6))
      .orderBy($"c_mktsegment", $"c_acctbal", $"c_custkey")
  }

  val q28Sql: String =
    s"""SELECT c_custkey, c_mktsegment, c_acctbal,
       ntile(4) OVER w AS quartile,
       ${rSql("percent_rank() OVER w", 6)} AS pct_rank,
       ${rSql("cume_dist() OVER w", 6)} AS cume
       FROM customer
       WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
       ORDER BY c_mktsegment, c_acctbal, c_custkey"""

  /** q29 — INTERSECT ALL (multiset intersection, min-of-multiplicities):
    * (customer, status) pairs present in both the ≤1996 and ≥1997 order
    * cohorts, aggregated per status. Catalyst plans intersectAll as a
    * count-compare aggregate — one shuffle on the full row, same as the
    * oracle's semantics. Complements q12 (distinct set ops) and q24
    * (EXCEPT ALL). */
  def q29IntersectAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderstatus", year($"o_orderdate").as("y"))
    val a = ord.filter($"y" <= 1996).select($"o_custkey", $"o_orderstatus")
    val b = ord.filter($"y" >= 1997).select($"o_custkey", $"o_orderstatus")
    a.intersectAll(b)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"o_custkey").as("n_customers"))
      .orderBy($"o_orderstatus")
  }

  val q29Sql: String =
    """SELECT o_orderstatus, count(*) AS n_pairs,
       count(DISTINCT o_custkey) AS n_customers
       FROM (
         SELECT o_custkey, o_orderstatus FROM orders WHERE year(o_orderdate) <= 1996
         INTERSECT ALL
         SELECT o_custkey, o_orderstatus FROM orders WHERE year(o_orderdate) >= 1997) t
       GROUP BY o_orderstatus
       ORDER BY o_orderstatus"""

  /** q30 — lateral/generator expansion with ordinality: the first three
    * whitespace tokens of each document with their positions (posexplode;
    * the oracle uses DuckDB's lateral generate_series since its unnest
    * carries no ordinality). Generator output is bounded (≤3 rows/doc) so
    * the expansion cannot blow up downstream; slice-before-explode keeps
    * the per-row work O(3), not O(n_tokens). */
  def q30LateralTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = filter(split(trim($"text"), "\\s+"), t => t =!= "")
    Tables.documents(s, dir)
      .select($"doc_id", posexplode(slice(toks, 1, 3)).as(Seq("pos", "token")))
      .orderBy($"doc_id", $"pos")
  }

  // DuckDB's table-function generate_series rejects lateral column args, so
  // the oracle zips two unnests (same-length lists zip row-wise) instead.
  val q30Sql: String =
    """WITH d AS (SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS ts
       FROM documents),
       u AS (SELECT doc_id, unnest(generate_series(1, least(3, len(ts)))) AS i,
             unnest(ts[1:3]) AS token FROM d)
       SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, token FROM u
       ORDER BY doc_id, pos"""

  /** q31 — weekly cohort retention over the events stream: users grouped
    * by first-active week; per (cohort, week-offset) distinct active
    * users and retention ratio. Two shuffles (user_id for firsts, cohort
    * key for the report) — the user-level distinct is the classic
    * pre-aggregation that keeps the big shuffle on (user, week) pairs,
    * never raw events; cohort sizes broadcast back. */
  def q31CohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
    val firsts = ev.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    val sizes = firsts.groupBy($"cohort_week").agg(count(lit(1)).as("cohort_size"))
    ev.distinct()
      .join(firsts, "user_id")
      .select($"cohort_week",
        (datediff($"wk", $"cohort_week") / 7).cast("int").as("week_offset"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("retention", r($"n_active".cast("double") / $"cohort_size", 6))
      .select($"cohort_week", $"week_offset", $"n_active", $"cohort_size", $"retention")
      .orderBy($"cohort_week", $"week_offset")
  }

  val q31Sql: String =
    s"""WITH ev AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
       firsts AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY user_id),
       sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY cohort_week),
       act AS (SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, e.wk) / 7 AS INTEGER) AS week_offset,
           count(*) AS n_active
         FROM (SELECT DISTINCT user_id, wk FROM ev) e JOIN firsts f USING (user_id)
         GROUP BY 1, 2)
       SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
         ${rSql("a.n_active / s.cohort_size", 6)} AS retention
       FROM act a JOIN sizes s USING (cohort_week)
       ORDER BY a.cohort_week, a.week_offset"""

  /** s01 — deterministic stratified sampling: per-segment sampling rates
    * (permille) applied through a seeded LCG hash of the key, so the
    * sample is reproducible across engines and runs — the property
    * `rand()`-based sampling cannot give (SURVEY.md §7 "Oracle parity").
    * The rate table is broadcast; the filter is scan-local (no shuffle at
    * all), which is what makes hash-sampling the only sampling strategy
    * that scales: TABLESAMPLE/rand() resample differently per retry. */
  def s01StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = s.createDataFrame(Seq(
      ("BUILDING", 200L), ("AUTOMOBILE", 100L))).toDF("seg", "permille")
    Tables.customer(s, dir)
      .join(broadcast(rates), $"c_mktsegment" === $"seg", "left")
      .withColumn("p", coalesce($"permille", lit(50L)))
      .filter(($"c_custkey" * 48271L + 11L) % 1000003L % 1000L < $"p")
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  val s01Sql: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
       FROM customer LEFT JOIN (VALUES ('BUILDING', 200), ('AUTOMOBILE', 100)) r(seg, permille)
         ON c_mktsegment = seg
       WHERE ((CAST(c_custkey AS BIGINT) * 48271 + 11) % 1000003) % 1000 < COALESCE(permille, 50)
       ORDER BY c_custkey"""

  /** s03 — deterministic hash train/val/test split (80/10/10): each
    * document's destination is a pure function of its id (h60 % 10), so
    * the split is reproducible across engines, runs, and cluster sizes,
    * and costs ZERO shuffle — a scan-local map, the split strategy that
    * holds at 100 TB (`randomSplit` resamples per retry and shifts under
    * AQE re-planning). Stratification across langs holds in expectation
    * (the hash is independent of lang; AdvancedSpec pins per-lang
    * fractions); the exact-fraction alternative — per-stratum rank
    * windows — would shuffle the corpus on a 5-value lang key, the
    * low-cardinality-key trap. Deterministic twin of the reference's
    * random train/test split (SURVEY.md §2.3 M3). */
  def s03HashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
      .withColumn("split",
        when($"h" <= 7, "train").when($"h" === 8, "val").otherwise("test"))
      .select($"doc_id", $"lang", $"split")
      .orderBy($"doc_id")
  }

  val s03Sql: String =
    s"""SELECT doc_id, lang,
         CASE WHEN h <= 7 THEN 'train' WHEN h = 8 THEN 'val' ELSE 'test' END
           AS split
       FROM (SELECT doc_id, lang,
           ${DedupLsh.h60Sql("doc_id::VARCHAR")} % 10 AS h
         FROM documents)
       ORDER BY doc_id"""

  /** s05 — group-aware K-fold assignment (GroupKFold): every document of
    * a source lands in the SAME fold (fold = h60(source) mod 5), the
    * split discipline that prevents near-duplicate train/test leakage
    * when a group (site, author, session) emits correlated documents —
    * d35 measures that leakage, s05 prevents it structurally. Reports
    * per-fold source/doc/token volumes and the doc share, so fold
    * imbalance (the price of group purity) is visible. Same portable
    * h60 family as s03's row-level split.
    *
    * Scale shape: fold assignment is scan-local (hash of a column value,
    * no group table, no join); the report is one map-side-combinable
    * aggregation. */
  /** s07's shard byte budget (16 KiB at test scale — the knob, not the
    * shape, changes; real epoch shards run ~100 MB-1 GB). */
  private val EpochShardBudget = 16384L

  /** s07 — DETERMINISTIC EPOCH RESHUFFLE (r14, verdict #9): training-data
    * ORDER is part of LLM reproducibility — each epoch needs a DIFFERENT
    * global permutation of the corpus, and every re-run of an epoch needs
    * the SAME one. The permutation is a pure function of (epoch, doc_id):
    * the portable 60-bit hash `h60(epoch:doc_id)` IS the sort key (no
    * RNG, no state, nothing to checkpoint), its top bits bucket the
    * corpus into 64 groups (the x08 boundedness trick: windows stay
    * group-local, parallelism = groups, NO global sort), and within a
    * group the docs lay into byte-budget shards in hash order (x08's
    * start-rule). Two epochs emitted side by side: the spec pins that
    * their orders genuinely differ while each is a reproducible function
    * of the seed; oracle ×3 pins the whole manifest hash-stable.
    *
    * Scale shape: one clustering exchange per epoch over (epoch, grp),
    * per-group window state bounded by the group — the 100 TB layout is
    * "each group is a writer task emitting its shard sequence"; resuming
    * a crashed epoch writer recomputes ITS groups bit-identically. */
  def s07EpochReshuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", octet_length($"text").cast("long").as("n_bytes"))
    val epochs = Seq(1, 2).toDF("epoch")
    val keyed = docs.crossJoin(epochs)
      .withColumn("h", DedupLsh.h60(
        concat($"epoch".cast("string"), lit(":"), $"doc_id".cast("string"))))
      .withColumn("grp", $"h" % 64L) // h60 is non-negative: a plain mod
    val w = Window.partitionBy($"epoch", $"grp").orderBy($"h", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed
      .withColumn("cum", sum($"n_bytes").over(w))
      .withColumn("shard_id", expr(s"(cum - n_bytes) div $EpochShardBudget"))
      .select($"epoch", $"grp", $"doc_id", $"h", $"n_bytes", $"shard_id",
        ($"cum" - $"n_bytes" - $"shard_id" * EpochShardBudget).as("offset_bytes"))
      .orderBy($"epoch", $"grp", $"h", $"doc_id")
  }

  val s07Sql: String =
    s"""WITH e AS (SELECT 1 AS epoch UNION ALL SELECT 2),
         m AS (SELECT e.epoch, d.doc_id,
             CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
             ${DedupLsh.h60Sql("CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")} AS h
           FROM documents d, e),
         g AS (SELECT *, h % 64 AS grp FROM m),
         c AS (SELECT *, CAST(sum(n_bytes) OVER (PARTITION BY epoch, grp
             ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM g)
       SELECT epoch, grp, doc_id, h, n_bytes,
         CAST((cum - n_bytes) // $EpochShardBudget AS BIGINT) AS shard_id,
         CAST(cum - n_bytes - ((cum - n_bytes) // $EpochShardBudget) * $EpochShardBudget AS BIGINT) AS offset_bytes
       FROM c ORDER BY epoch, grp, h, doc_id"""

  def s05GroupSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(coalesce($"source", lit("")).as("src"), $"doc_id",
        size(TextOps.toks($"text")).cast("long").as("n_tok"))
      .withColumn("fold", pmod(DedupLsh.h60($"src"), lit(5L)))
      .groupBy($"fold")
      .agg(countDistinct($"src").as("n_sources"), count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"))
      .withColumn("doc_share",
        r($"n_docs".cast("double") /
          sum($"n_docs").over(Window.partitionBy()).cast("double"), 6))
      .orderBy($"fold")
  }

  val s05Sql: String =
    s"""WITH d AS (SELECT coalesce(source, '') AS src, doc_id,
         CAST(len(${TextOps.toksSql("text")}) AS BIGINT) AS n_tok,
         ((${DedupLsh.h60Sql("coalesce(source, '')")}) % 5 + 5) % 5 AS fold
       FROM documents),
       f AS (SELECT fold, count(DISTINCT src) AS n_sources,
         count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       FROM d GROUP BY fold)
       SELECT fold, n_sources, n_docs, n_tokens,
         ${rSql("CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE)", 6)} AS doc_share
       FROM f ORDER BY fold"""

  /** t10 — date-spine gap filling: per-day error-event counts with
    * explicit zero rows for silent days (sequence + explode builds the
    * spine from the observed bounds; left join + coalesce fills). The
    * spine side is tiny (days), the counts side is pre-aggregated before
    * the join — at 100 TB the join input is |days| × |distinct days|,
    * not raw events. */
  def t10DateSpine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select(to_date($"ts").as("d"), $"event_type", $"value")
    val errs = ev.filter($"event_type" === "error")
      .groupBy($"d")
      .agg(count(lit(1)).as("n_errors"), rsum($"value", 2).as("error_value"))
    val spine = ev.agg(min($"d").as("lo"), max($"d").as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("d"))
    spine.join(errs, Seq("d"), "left")
      .na.fill(0L, Seq("n_errors")).na.fill(0.0, Seq("error_value"))
      .orderBy($"d")
  }

  // list-form generate_series (unnest in the select list) — the table-form
  // can't take the lateral b.lo/b.hi column args in DuckDB.
  val t10Sql: String =
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS d, event_type, value FROM events),
       b AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
       sp0 AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS g FROM b),
       spine AS (SELECT CAST(g AS DATE) AS d FROM sp0),
       errs AS (SELECT d, count(*) AS n_errors, ${rsumSql("value", 2)} AS error_value
                FROM ev WHERE event_type = 'error' GROUP BY d)
       SELECT spine.d, COALESCE(errs.n_errors, 0) AS n_errors,
         COALESCE(errs.error_value, 0.0) AS error_value
       FROM spine LEFT JOIN errs USING (d)
       ORDER BY spine.d"""

  /** t11 — time-RANGE rolling window: trailing 1-hour mean of `value` per
    * event_type, frame defined by event TIME (RANGE BETWEEN on epoch-µs),
    * not row count — the correct rolling statistic for irregular streams
    * (t07's rows-frame twin). One shuffle on event_type + per-partition
    * sort; the decimal window sum keeps the mean order-independent. At
    * 100 TB the partition key would widen to (event_type, day-bucket)
    * with boundary stitching — noted, not needed at bench scale. */
  def t11RollingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"es")
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, dir)
      .select($"event_id", $"event_type", unix_micros($"ts").as("es"), $"value")
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("roll_avg",
        r(sum($"value".cast("decimal(38,10)")).over(w).cast("double") / $"n_window", 6))
      .orderBy($"event_type", $"es", $"event_id")
  }

  val t11Sql: String =
    s"""SELECT event_id, event_type, es, value,
       count(*) OVER w AS n_window,
       ${rSql("CAST(sum(CAST(value AS DECIMAL(38,10))) OVER w AS DOUBLE) / (count(*) OVER w)", 6)} AS roll_avg
       FROM (SELECT event_id, event_type, epoch_us(ts) AS es, value FROM events) t
       WINDOW w AS (PARTITION BY event_type ORDER BY es
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
       ORDER BY event_type, es, event_id"""

  /** q32 — EXISTS / NOT EXISTS correlated subqueries (the SQL-surface twin
    * of q04/q05's DataFrame semi/anti joins — Catalyst decorrelates both
    * to the same left-semi/left-anti physical joins, so this also pins
    * that the SQL entry point optimizes identically). */
  def q32ExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_cust_x")
    Tables.orders(s, dir).createOrReplaceTempView("graft_ord_x")
    s.sql(
      """SELECT c_custkey, c_mktsegment, c_acctbal
         FROM graft_cust_x c
         WHERE EXISTS (SELECT 1 FROM graft_ord_x o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
           AND NOT EXISTS (SELECT 1 FROM graft_ord_x o
                           WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1998)
         ORDER BY c_custkey""")
  }

  val q32Sql: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1998)
       ORDER BY c_custkey"""

  /** q33 — exact interpolated percentiles (percentile_cont semantics) per
    * group: both engines sort the group and linearly interpolate, so the
    * values agree to the last ulp (hidden by r6 regardless). The exact
    * form is the small-group reporting path; at 100 TB swap in
    * percentile_approx (t-digest) — same call shape. */
  def q33Percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE array-percentile aggregate per column: scalar percentile()
    // calls each buffer the whole group separately (the q73 lesson —
    // 2x buffering here for identical values; array mode sorts once)
    // projected fan-out so the percentile partial buffers build across
    // the session's parallelism, not the scan's few splits (q46's
    // pattern, identical values)
    Skew.fanOut(Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice"), $"l_extendedprice")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        percentile($"l_quantity", array(lit(0.5), lit(0.9))).as("qp"),
        percentile($"l_extendedprice", array(lit(0.5), lit(0.99))).as("pp"))
      .select($"l_returnflag", $"n",
        r(element_at($"qp", 1), 6).as("qty_p50"),
        r(element_at($"qp", 2), 6).as("qty_p90"),
        r(element_at($"pp", 1), 6).as("price_p50"),
        r(element_at($"pp", 2), 6).as("price_p99"))
      .orderBy($"l_returnflag")
  }

  val q33Sql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       ${rSql("quantile_cont(l_quantity, 0.5)", 6)} AS qty_p50,
       ${rSql("quantile_cont(l_quantity, 0.9)", 6)} AS qty_p90,
       ${rSql("quantile_cont(l_extendedprice, 0.5)", 6)} AS price_p50,
       ${rSql("quantile_cont(l_extendedprice, 0.99)", 6)} AS price_p99
       FROM lineitem
       GROUP BY l_returnflag
       ORDER BY l_returnflag"""

  /** q34 — FULL OUTER JOIN: customer order activity in 1995 vs 1998,
    * keeping one-sided customers from both cohorts (the join type q04/q05
    * and the left joins elsewhere don't exercise). Both sides are
    * pre-aggregated before the join — at scale the full-outer shuffle
    * moves one row per (customer, year), never raw orders. */
  def q34FullOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .select($"o_custkey", $"o_totalprice", year($"o_orderdate").as("y"))
    def agg(yr: Int, n: String, rev: String) = ord.filter($"y" === yr)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as(n), rsum($"o_totalprice", 2).as(rev))
    agg(1995, "n95", "rev95")
      .join(agg(1998, "n98", "rev98"), Seq("o_custkey"), "full_outer")
      .select($"o_custkey",
        coalesce($"n95", lit(0L)).as("n95"), coalesce($"rev95", lit(0.0)).as("rev95"),
        coalesce($"n98", lit(0L)).as("n98"), coalesce($"rev98", lit(0.0)).as("rev98"))
      .withColumn("status",
        when($"n95" > 0 && $"n98" > 0, "both")
          .when($"n95" > 0, "only_1995").otherwise("only_1998"))
      .orderBy($"o_custkey")
  }

  val q34Sql: String =
    s"""WITH a AS (SELECT o_custkey, count(*) AS n95,
           ${rsumSql("o_totalprice", 2)} AS rev95
         FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey),
       b AS (SELECT o_custkey, count(*) AS n98,
           ${rsumSql("o_totalprice", 2)} AS rev98
         FROM orders WHERE year(o_orderdate) = 1998 GROUP BY o_custkey)
       SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
         COALESCE(n95, 0) AS n95, COALESCE(rev95, 0.0) AS rev95,
         COALESCE(n98, 0) AS n98, COALESCE(rev98, 0.0) AS rev98,
         CASE WHEN COALESCE(n95, 0) > 0 AND COALESCE(n98, 0) > 0 THEN 'both'
              WHEN COALESCE(n95, 0) > 0 THEN 'only_1995'
              ELSE 'only_1998' END AS status
       FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
       ORDER BY o_custkey"""

  /** t12 — event funnel: signup → first subsequent purchase, per user,
    * reduced to conversion rate and time-to-convert. Two pre-aggregations
    * (one per funnel stage) and a user-keyed join — the shuffles move one
    * row per user per stage, never raw events, which is the layout that
    * survives a 100× event-volume scale-up. Time delta runs in epoch-µs
    * integers; the mean goes through the decimal policy. */
  /** t12's per-user funnel stage — (user_id, signup_ts, purchase_ts) with
    * purchase_ts = earliest purchase at-or-after the earliest signup.
    * Shared with the streaming replay spec so the stream twin is compared
    * against exactly the frame the oracle-checked summary aggregates. */
  private[graft] def funnelPerUser(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val signups = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .join(signups, "user_id")
      .filter($"ts" >= $"signup_ts")
      .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
    signups.join(purchases, Seq("user_id"), "left")
  }

  def t12Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    funnelPerUser(Tables.events(s, dir).select($"user_id", $"event_type", $"ts"))
      .select($"user_id", $"signup_ts", $"purchase_ts",
        (unix_micros($"purchase_ts") - unix_micros($"signup_ts")).as("us_to_convert"))
      .agg(
        count(lit(1)).as("n_signup_users"),
        count($"purchase_ts").as("n_converted"),
        r(count($"purchase_ts").cast("double") / count(lit(1)), 6).as("conversion_rate"),
        r(dsum($"us_to_convert".cast("double") / 3600000000.0) / count($"us_to_convert"), 4)
          .as("avg_hours_to_convert"))
  }

  /** t12's funnel CTE block, ending in j(user_id, signup_ts, purchase_ts,
    * us_to_convert) — shared by t12's summary and q60's latency report so
    * the two views of the funnel cannot drift. */
  private[graft] val funnelCtesSql: String =
    """su AS (SELECT user_id, min(ts) AS signup_ts FROM events
         WHERE event_type = 'signup' GROUP BY user_id),
       pu AS (SELECT e.user_id, min(e.ts) AS purchase_ts
         FROM events e JOIN su ON e.user_id = su.user_id
         WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
         GROUP BY e.user_id),
       j AS (SELECT su.user_id, signup_ts, purchase_ts,
           epoch_us(purchase_ts) - epoch_us(signup_ts) AS us_to_convert
         FROM su LEFT JOIN pu ON su.user_id = pu.user_id)"""

  val t12Sql: String =
    s"""WITH $funnelCtesSql
       SELECT count(*) AS n_signup_users,
         count(purchase_ts) AS n_converted,
         ${rSql("count(purchase_ts) / count(*)", 6)} AS conversion_rate,
         ${rSql(s"${dsumSql("us_to_convert / 3600000000.0")} / count(us_to_convert)", 4)}
           AS avg_hours_to_convert
       FROM j"""

  /** q60 — funnel stage-latency report: the DISTRIBUTION behind t12's
    * single mean — exact interpolated p25/p50/p75/p90 of hours-to-convert
    * (q33's percentile ↔ quantile_cont pairing) plus time-bounded
    * conversion SLOs (share of signup users converting within 1 h / 24 h
    * / 7 d, exact integer-µs thresholds). Shares t12's per-user funnel
    * frame on the Spark side and [[funnelCtesSql]] in the oracle, so the
    * summary and the distribution cannot disagree about who converted.
    * Scale shape = t12: per-stage pre-aggregation, one row per user ever
    * shuffled; the percentile buffers one value per CONVERTED user
    * (q39's documented trade-off — q37's GK sketch is the huge-cohort
    * drop-in). */
  def q60StageLatency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hrs = $"dt_us".cast("double") / lit(3600000000.0)
    funnelPerUser(Tables.events(s, dir).select($"user_id", $"event_type", $"ts"))
      .select($"user_id",
        (unix_micros($"purchase_ts") - unix_micros($"signup_ts")).as("dt_us"))
      .agg(count(lit(1)).as("n_signup_users"),
        count($"dt_us").as("n_converted"),
        r(percentile(hrs, lit(0.25)), 4).as("p25_hours"),
        r(percentile(hrs, lit(0.5)), 4).as("p50_hours"),
        r(percentile(hrs, lit(0.75)), 4).as("p75_hours"),
        r(percentile(hrs, lit(0.9)), 4).as("p90_hours"),
        r(count(when($"dt_us" <= 3600000000L, 1)).cast("double") /
          count(lit(1)).cast("double"), 6).as("within_1h"),
        r(count(when($"dt_us" <= 86400000000L, 1)).cast("double") /
          count(lit(1)).cast("double"), 6).as("within_24h"),
        r(count(when($"dt_us" <= 604800000000L, 1)).cast("double") /
          count(lit(1)).cast("double"), 6).as("within_7d"))
  }

  val q60Sql: String = {
    val hrs = "CAST(us_to_convert AS DOUBLE) / CAST(3600000000.0 AS DOUBLE)"
    def within(us: Long) =
      s"CAST(count(CASE WHEN us_to_convert <= $us THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
    s"""WITH $funnelCtesSql
       SELECT count(*) AS n_signup_users,
         count(us_to_convert) AS n_converted,
         ${rSql(s"quantile_cont($hrs, 0.25)", 4)} AS p25_hours,
         ${rSql(s"quantile_cont($hrs, 0.5)", 4)} AS p50_hours,
         ${rSql(s"quantile_cont($hrs, 0.75)", 4)} AS p75_hours,
         ${rSql(s"quantile_cont($hrs, 0.9)", 4)} AS p90_hours,
         ${rSql(within(3600000000L), 6)} AS within_1h,
         ${rSql(within(86400000000L), 6)} AS within_24h,
         ${rSql(within(604800000000L), 6)} AS within_7d
       FROM j"""
  }

  /** q63's attribution lookback in µs (24 h). */
  private val AttrLookbackUs = 86400000000L

  /** q63 — multi-touch attribution: every purchase credits the
    * click/view/signup touches of the SAME user in the trailing 24 h,
    * under the two standard models side by side — last-touch (the most
    * recent touch takes the whole conversion) and linear (every touch in
    * the window shares equally); purchases with no touch in window land
    * in an explicit '(none)' organic row, so credit always sums to the
    * purchase total. The touch join is t17's user-keyed interval shape
    * (both sides pre-filtered, one shuffle on user_id); per-purchase
    * windows are bounded by a user's 24 h activity. Ordering runs on
    * integer epoch-µs, credit fractions are integer-derived IEEE, sums
    * decimal-exact. */
  def q63Attribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    attribution(Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value"))
  }

  /** q63's core over an explicit event relation — exposed so the spec can
    * plant a hand-credited touch sequence. */
  private[graft] def attribution(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("pu"),
        $"event_id".as("pid"), $"value")
    val touches = ev.filter($"event_type".isin("click", "view", "signup"))
      .select($"user_id".as("t_uid"), unix_micros($"ts").as("tu"),
        $"event_id".as("t_eid"), $"event_type".as("ttype"))
    val joined = purchases.join(touches,
        $"user_id" === $"t_uid" && $"tu" < $"pu" &&
          $"pu" - $"tu" <= AttrLookbackUs, "left")
      .withColumn("nt", count($"t_eid").over(Window.partitionBy($"pid")))
      .withColumn("rk", row_number().over(Window.partitionBy($"pid")
        .orderBy($"tu".desc_nulls_last, $"t_eid".desc_nulls_last)))
      .cache() // feeds the last-touch and linear branches
    val last = joined.filter($"rk" === 1)
      .groupBy(coalesce($"ttype", lit("(none)")).as("touch_type"))
      .agg(count(lit(1)).as("n_last"), rsum($"value", 2).as("last_revenue"))
    val lin = joined.filter($"t_eid".isNotNull)
      .groupBy($"ttype".as("touch_type"))
      .agg(r(dsum(lit(1.0) / $"nt".cast("double")), 6).as("linear_credit"),
        rsum($"value" / $"nt".cast("double"), 2).as("linear_revenue"))
    last.join(lin, Seq("touch_type"), "full_outer")
      .select($"touch_type", coalesce($"n_last", lit(0L)).as("n_last"),
        coalesce($"last_revenue", lit(0.0)).as("last_revenue"),
        coalesce($"linear_credit", lit(0.0)).as("linear_credit"),
        coalesce($"linear_revenue", lit(0.0)).as("linear_revenue"))
      .orderBy($"touch_type")
  }

  val q63Sql: String =
    s"""WITH p AS (SELECT user_id, epoch_us(ts) AS pu, event_id AS pid, value
         FROM events WHERE event_type = 'purchase'),
       t AS (SELECT user_id AS t_uid, epoch_us(ts) AS tu, event_id AS t_eid,
         event_type AS ttype
         FROM events WHERE event_type IN ('click', 'view', 'signup')),
       j AS MATERIALIZED (SELECT p.*, t.tu, t.t_eid, t.ttype,
           count(t_eid) OVER (PARTITION BY pid) AS nt,
           row_number() OVER (PARTITION BY pid
             ORDER BY tu DESC NULLS LAST, t_eid DESC NULLS LAST) AS rk
         FROM p LEFT JOIN t ON t.t_uid = p.user_id AND t.tu < p.pu
           AND p.pu - t.tu <= $AttrLookbackUs),
       last AS (SELECT coalesce(ttype, '(none)') AS touch_type,
           count(*) AS n_last, ${rsumSql("value", 2)} AS last_revenue
         FROM j WHERE rk = 1 GROUP BY 1),
       lin AS (SELECT ttype AS touch_type,
           ${rSql(dsumSql("CAST(1.0 AS DOUBLE) / CAST(nt AS DOUBLE)"), 6)} AS linear_credit,
           ${rsumSql("value / CAST(nt AS DOUBLE)", 2)} AS linear_revenue
         FROM j WHERE t_eid IS NOT NULL GROUP BY 1)
       SELECT coalesce(last.touch_type, lin.touch_type) AS touch_type,
         coalesce(n_last, 0) AS n_last,
         coalesce(last_revenue, 0.0) AS last_revenue,
         coalesce(linear_credit, 0.0) AS linear_credit,
         coalesce(linear_revenue, 0.0) AS linear_revenue
       FROM last FULL OUTER JOIN lin ON lin.touch_type = last.touch_type
       ORDER BY touch_type"""

  /** q38 — window navigation functions (lag/lead/first_value/nth_value)
    * as an order-gap analysis: per customer, days since the previous
    * order, days until the next, the first order date, and the third
    * (null until it exists). Frames are pinned to ROWS UNBOUNDED
    * PRECEDING..CURRENT on both sides — nth_value's default RANGE frame
    * is the classic cross-engine divergence. One window shuffle on
    * o_custkey + the final sort, same scale shape as q08. */
  def q38OrderGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderdate", $"o_orderkey")
      .withColumn("days_since_prev",
        datediff($"o_orderdate", lag($"o_orderdate", 1).over(w)))
      .withColumn("days_to_next",
        datediff(lead($"o_orderdate", 1).over(w), $"o_orderdate"))
      .withColumn("first_order", first($"o_orderdate").over(wf))
      .withColumn("third_order", nth_value($"o_orderdate", 3).over(wf))
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  val q38Sql: String =
    """SELECT o_custkey, o_orderdate, o_orderkey,
       datediff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS days_since_prev,
       datediff('day', o_orderdate, lead(o_orderdate, 1) OVER w) AS days_to_next,
       first_value(o_orderdate) OVER wf AS first_order,
       nth_value(o_orderdate, 3) OVER wf AS third_order
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
              wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY o_custkey, o_orderdate, o_orderkey"""

  // --- q42: equi-width histogram -----------------------------------------

  /** q42 — 20-bucket equi-width histogram of line-item price: data-driven
    * bounds (one 1-row min/max aggregate, broadcast), scan-local bucket
    * assignment in pure IEEE double math (identical across engines — no
    * builtin width_bucket, whose edge semantics differ), map-side-combined
    * counts. The max value folds into the top bucket via least(). */
  def q42Histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bounds = Tables.lineitem(s, dir)
      .agg(min($"l_extendedprice").as("lo"), max($"l_extendedprice").as("hi"))
    Tables.lineitem(s, dir)
      .select($"l_extendedprice")
      .crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(lit(20.0), lit(1.0) +
          floor(($"l_extendedprice" - $"lo") / (($"hi" - $"lo") / 20.0))).cast("int"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_items"), rsum($"l_extendedprice", 2).as("sum_price"))
      .orderBy($"bucket")
  }

  val q42Sql: String =
    s"""WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
         FROM lineitem)
       SELECT CAST(least(20.0, 1.0 + floor((l_extendedprice - lo) / ((hi - lo) / 20.0))) AS INTEGER) AS bucket,
         count(*) AS n_items, ${rsumSql("l_extendedprice", 2)} AS sum_price
       FROM lineitem CROSS JOIN b
       GROUP BY 1
       ORDER BY 1"""

  // --- t16: SCD2 validity intervals --------------------------------------

  /** t16 — slowly-changing-dimension (type 2) interval construction: each
    * event opens a validity interval for its user's state, closed by the
    * user's next event (`lead`; the latest interval stays open = NULL
    * valid_to) — the temporal-snapshot layout warehouse dimensions keep.
    * One shuffle on user_id; the window order (ts, event_id) is a total
    * order so interval boundaries are deterministic. */
  def t16Scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type",
        $"ts".as("valid_from"), lead($"ts", 1).over(w).as("valid_to"))
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  val t16Sql: String =
    """SELECT user_id, event_id, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
       FROM events
       ORDER BY user_id, valid_from, event_id"""

  // --- s02: deterministic weighted sampling (A-Res priorities) ----------

  /** s02 — weighted sampling without replacement, Efraimidis–Spirakis
    * A-Res: each row gets priority u^(1/w) — here in log form
    * ln(u)/w, scaled ×10⁶ and rounded so both engines rank identical
    * values — with u a seeded LCG uniform in (0, 1] (the s01 family; no
    * rand() resample hazard) and w = o_totalprice, then the k=50 largest
    * priorities are the sample: P(selected) ≈ proportional to weight.
    * Plan: scan-local priorities → TakeOrdered top-k (distributed, no
    * global sort) → a 50-row window for the rank column. The ln is the
    * d08-proven portable transcendental; ties on the rounded priority
    * break by key. */
  def s02WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = (($"o_orderkey" * 48271L + 13L) % 1000003L + 1L).cast("double") / 1000004.0
    val pr = r(lit(1e6) * log(u) / $"o_totalprice", 6)
    val top = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_totalprice", pr.as("priority"))
      .orderBy($"priority".desc, $"o_orderkey")
      .limit(50)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy($"priority".desc, $"o_orderkey")))
      .orderBy($"rank")
  }

  val s02Sql: String = {
    val u = "CAST((CAST(o_orderkey AS BIGINT) * 48271 + 13) % 1000003 + 1 AS DOUBLE) / CAST(1000004 AS DOUBLE)"
    s"""WITH pri AS (SELECT o_orderkey, o_totalprice,
         ${rSql(s"1000000.0 * ln($u) / o_totalprice", 6)} AS priority
       FROM orders),
       top AS (SELECT * FROM pri ORDER BY priority DESC, o_orderkey LIMIT 50)
       SELECT o_orderkey, o_totalprice, priority,
         row_number() OVER (ORDER BY priority DESC, o_orderkey) AS rank
       FROM top
       ORDER BY rank"""
  }

  // --- q44: MERGE INTO / SCD1 upsert batch twin -------------------------

  /** q44 — lakehouse MERGE INTO semantics (WHEN MATCHED THEN UPDATE /
    * WHEN NOT MATCHED THEN INSERT) as a deterministic batch twin over the
    * customer dim: the changeset updates every 5th key's balance (+100)
    * and inserts an offset-keyed new row for every key ≡ 3 (mod 7); the
    * output is the post-merge table with a per-row action audit column
    * (update / insert / keep) — SCD1's overwrite semantics, the
    * complement of t16's SCD2 history intervals and t03's latest-per-key
    * compaction. The changeset is derived in-plan so the whole merge is
    * reproducible cross-engine.
    *
    * Scale shape: ONE full-outer shuffle on the unique merge key (what
    * MERGE executes on any engine); a small changeset would broadcast
    * instead. The balance arithmetic is a single IEEE op on exact
    * inputs — bit-identical without rounding. */
  def q44MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tgt = Tables.customer(s, dir).select($"c_custkey", $"c_acctbal")
    val upd = tgt.filter($"c_custkey" % 5 === 0)
      .select($"c_custkey".as("k"), ($"c_acctbal" + lit(100.0)).as("nb"))
    val ins = tgt.filter($"c_custkey" % 7 === 3)
      .select(($"c_custkey" + lit(10000000L)).as("k"),
        lit(0.0).as("nb"))
    val src = upd.unionByName(ins)
    tgt.join(src, $"c_custkey" === $"k", "full_outer")
      .select(coalesce($"c_custkey", $"k").as("custkey"),
        coalesce($"nb", $"c_acctbal").as("bal"),
        when($"c_custkey".isNull, "insert")
          .when($"nb".isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy($"custkey")
  }

  val q44Sql: String =
    """WITH tgt AS (SELECT c_custkey, c_acctbal FROM customer),
       upd AS (SELECT c_custkey AS k, c_acctbal + CAST(100.0 AS DOUBLE) AS nb
         FROM tgt WHERE c_custkey % 5 = 0),
       ins AS (SELECT c_custkey + 10000000 AS k, CAST(0.0 AS DOUBLE) AS nb
         FROM tgt WHERE c_custkey % 7 = 3),
       src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
       SELECT coalesce(t.c_custkey, s.k) AS custkey,
         coalesce(s.nb, t.c_acctbal) AS bal,
         CASE WHEN t.c_custkey IS NULL THEN 'insert'
              WHEN s.nb IS NULL THEN 'keep'
              ELSE 'update' END AS action
       FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.k
       ORDER BY custkey"""

  // --- s04: exact per-stratum budget sampling (balanced corpus) ---------

  /** s04 per-stratum budget and the salt fan-out of the pre-aggregation
    * stage. */
  private[graft] val S04Budget = 50
  private val S04Salts = 32

  /** s04 — balanced sampling: EXACTLY min(B, |stratum|) docs per language
    * by hash rank (md5 order — the e05/e07-proven portable sample family),
    * the "N docs per language/domain" balancing step of corpus assembly
    * (s01 samples by per-stratum RATE; s04 hits an exact per-stratum
    * COUNT). Deterministic: same sample at any parallelism, any engine.
    *
    * Scale shape: a naive `row_number over (partition by lang)` would
    * funnel the whole corpus through ≤|langs| window tasks (the
    * low-cardinality-key trap). Instead rank in two phases: top-B within
    * (lang, salt) over [[S04Salts]] xxhash64 salt buckets — salted
    * windows are parallel and each keeps ≤B rows, and since any global
    * top-B member is also a top-B member of its own salt bucket the
    * pre-filter is lossless — then the exact window runs over ≤salts·B
    * rows per lang. The salt stage is Spark-internal (the oracle is the
    * single equivalent window), so cheap xxhash64 is fine (q41 lesson). */
  def s04BalancedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", $"lang", md5($"doc_id".cast("string")).as("hk"))
      .withColumn("salt", pmod(xxhash64($"doc_id"), lit(S04Salts)))
    val pre = d
      .withColumn("r1", row_number().over(
        Window.partitionBy($"lang", $"salt").orderBy($"hk", $"doc_id")))
      .filter($"r1" <= S04Budget)
    pre
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"hk", $"doc_id")))
      .filter($"rk" <= S04Budget)
      .select($"lang", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  val s04Sql: String =
    s"""SELECT lang, rk, doc_id FROM (
         SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
           ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
         FROM documents)
       WHERE rk <= $S04Budget
       ORDER BY lang, rk"""

  // --- q41: portable Bloom runtime filter ahead of a semi join ----------

  private val BloomWords = 256 // 16384 bits
  private val BloomK = 3

  /** The k salted hashes of `keyCol`, as named columns `__h0..__h{k-1}`
    * in [0, BloomWords·64). xxhash64, not the md5-rank portable family:
    * the Bloom content never reaches the oracle (the oracle is the plain
    * semi join, bloom false positives are removed by the exact join), so
    * the hash only needs Spark-internal determinism — and the codegen'd
    * xxhash64 is ~4× cheaper per fact row than 3 md5s (measured 2.7 s →
    * 0.7 s at sf0.1). */
  private def withBloomHashes(df: DataFrame, keyCol: String): DataFrame =
    (0 until BloomK).foldLeft(df)((d, i) =>
      d.withColumn(s"__h$i",
        pmod(xxhash64(lit(i), col(keyCol)), lit(BloomWords.toLong * 64L))))

  /** 1-row DataFrame holding a [[BloomWords]]×64-bit Bloom filter (column
    * `bloom`: array<bigint>) over `keyCol` of `dim` — k=[[BloomK]] salted
    * xxhash64 hashes (Spark-internal determinism suffices: the bloom never
    * reaches the oracle, see [[withBloomHashes]]). Exposed for the
    * AdvancedSpec no-false-negative assertion. */
  private[graft] def bloomArray(dim: DataFrame, keyCol: String): DataFrame =
    withBloomHashes(dim, keyCol)
      .select(explode(array((0 until BloomK).map(i => col(s"__h$i")): _*)).as("h"))
      .select(expr("CAST(h div 64 AS INT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 64 AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
      .agg(collect_list(struct(col("w"), col("bits"))).as("wb"))
      .select(expr(
        s"""transform(sequence(0, ${BloomWords - 1}), i ->
            coalesce(aggregate(filter(wb, x -> x.w = i), CAST(0 AS BIGINT),
                               (a, x) -> a | x.bits), CAST(0 AS BIGINT)))""").as("bloom"))

  /** Scan-local Bloom membership pre-filter of `fact`'s `keyCol` against
    * the 1-row `bloomDf`: keeps rows whose k salted bits are all set —
    * never drops a true member, passes ~0.25 % false positives at q41's
    * load. One broadcast nested-loop join of a single 2 KB row; the fact
    * side never shuffles. Exposed for the AdvancedSpec assertions. */
  private[graft] def bloomPrefilter(fact: DataFrame, keyCol: String,
      bloomDf: DataFrame): DataFrame = {
    val pass = (0 until BloomK).map(i => expr(
        s"""(element_at(bloom, CAST(__h$i div 64 AS INT) + 1)
            & shiftleft(CAST(1 AS BIGINT), CAST(__h$i % 64 AS INT))) != 0"""))
      .reduce(_ && _)
    withBloomHashes(fact, keyCol)
      .crossJoin(broadcast(bloomDf))
      .filter(pass)
      .drop("bloom" +: (0 until BloomK).map(i => s"__h$i"): _*)
  }

  /** q41 — Bloom-filter runtime pre-filter ahead of a semi join: the dim
    * side (parts of one brand, ~4 % of the table) builds a 16384-bit
    * portable Bloom filter IN-PLAN (no driver round trip), the fact scan
    * drops non-members scan-locally (one broadcast of a single 2 KB row,
    * no shuffle, ~0.25 % false positives at this load), and the exact
    * broadcast semi join then removes the false positives — so the result
    * is byte-identical to the plain semi join, which IS the oracle. This
    * is the manual, engine-portable form of the runtime filter pushdown
    * that decides 100 TB join performance: the fact side is reduced ~25×
    * before any join machinery touches it. */
  def q41BloomSemijoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Tables.part(s, dir).filter($"p_brand" === "Brand#23")
    val fact = Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_linestatus", $"l_extendedprice")
    bloomPrefilter(fact, "l_partkey", bloomArray(dim, "p_partkey"))
      .join(broadcast(dim.select($"p_partkey")),
        $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_linestatus")
      .agg(count(lit(1)).as("n_items"), rsum($"l_extendedprice", 2).as("revenue"))
      .orderBy($"l_linestatus")
  }

  val q41Sql: String =
    s"""SELECT l_linestatus, count(*) AS n_items,
         ${rsumSql("l_extendedprice", 2)} AS revenue
       FROM lineitem
       WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23')
       GROUP BY l_linestatus
       ORDER BY l_linestatus"""

  // --- t20: RFM customer segmentation ---------------------------------------

  /** Quintile index 1..5 of `m` against four broadcast thresholds named
    * `${t}1`..`${t}4` — ties land in the LOWER bucket (>, not ≥), so no
    * tie-break is needed and the assignment is scan-local. Shared
    * Spark/DuckDB expression text (both accept this CASE chain). */
  private def quintSql(m: String, t: String): String =
    s"CAST(1 + ${(1 to 4).map(i => s"CASE WHEN $m > $t$i THEN 1 ELSE 0 END").mkString(" + ")} AS BIGINT)"

  /** t20 — RFM segmentation: per customer, recency (days from last order
    * to the corpus max date), frequency (order count), and monetary
    * (cent-rounded spend) are each cut into quintiles against exact
    * interpolated thresholds (the q33-proven percentile ↔ quantile_cont
    * pairing, rounded to 6 dp before comparison), then customers are
    * rolled up per (r_q, f_q, m_q) cell — the classic CRM segmentation
    * grid. Quintile 1 = most recent / fewest orders / lowest spend; ties
    * sit in the lower bucket, so no rank tie-break exists at all.
    *
    * Scale shape: one groupBy(custkey) aggregation, a 1-row threshold
    * broadcast, scan-local bucket assignment, and a ≤125-cell rollup.
    * The exact-percentile threshold pass buffers the per-customer metric
    * per group (q39's documented trade-off); at real scale the drop-in is
    * q37's GK sketch for the twelve cuts. */
  def t20Rfm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rfm(Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderdate", $"o_totalprice"))
  }

  /** t20's core over an explicit (o_custkey, o_orderdate, o_totalprice)
    * relation — exposed so the spec can plant 10 single-order customers
    * with hand-placed quintile cells. */
  private[graft] def rfm(orders: DataFrame): DataFrame = {
    val s = orders.sparkSession
    import s.implicits._
    val per = orders.groupBy($"o_custkey")
      .agg(max($"o_orderdate").as("last_d"),
        count(lit(1)).as("freq"), rsum($"o_totalprice", 2).as("mon"))
    val ref = orders.agg(max($"o_orderdate").as("ref_d"))
    val cust = per.crossJoin(broadcast(ref))
      .select($"o_custkey",
        datediff($"ref_d", $"last_d").cast("long").as("rec"), $"freq", $"mon")
      .cache() // feeds the threshold pass and the scoring pass
    def cuts(c: org.apache.spark.sql.Column, t: String) =
      Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map { case (p, i) =>
        r(percentile(c, lit(p)), 6).as(s"$t${i + 1}")
      }
    val th = cust.agg(cuts($"rec".cast("double"), "rc").head,
      (cuts($"rec".cast("double"), "rc").tail ++
        cuts($"freq".cast("double"), "fc") ++ cuts($"mon", "mc")): _*)
    cust.crossJoin(broadcast(th))
      .select($"o_custkey", $"freq", $"mon",
        expr(quintSql("CAST(rec AS DOUBLE)", "rc")).as("r_q"),
        expr(quintSql("CAST(freq AS DOUBLE)", "fc")).as("f_q"),
        expr(quintSql("mon", "mc")).as("m_q"))
      .groupBy($"r_q", $"f_q", $"m_q")
      .agg(count(lit(1)).as("n_customers"),
        ravg($"freq", 6).as("avg_orders"), ravg($"mon", 2).as("avg_monetary"))
      .orderBy($"r_q", $"f_q", $"m_q")
  }

  val t20Sql: String =
    s"""WITH per AS (SELECT o_custkey, max(o_orderdate) AS last_d,
         count(*) AS freq, ${rsumSql("o_totalprice", 2)} AS mon
       FROM orders GROUP BY o_custkey),
       ref AS (SELECT max(o_orderdate) AS ref_d FROM orders),
       cust AS MATERIALIZED (SELECT o_custkey,
         CAST(date_diff('day', CAST(last_d AS DATE), CAST(ref_d AS DATE)) AS BIGINT) AS rec,
         freq, mon
       FROM per CROSS JOIN ref),
       th AS (SELECT
         ${Seq("rc" -> "CAST(rec AS DOUBLE)", "fc" -> "CAST(freq AS DOUBLE)", "mc" -> "mon")
           .flatMap { case (t, m) => Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map { case (p, i) =>
             s"${rSql(s"quantile_cont($m, $p)", 6)} AS $t${i + 1}" } }.mkString(", ")}
       FROM cust)
       SELECT r_q, f_q, m_q, count(*) AS n_customers,
         ${ravgSql("freq", 6)} AS avg_orders, ${ravgSql("mon", 2)} AS avg_monetary
       FROM (SELECT ${quintSql("CAST(rec AS DOUBLE)", "rc")} AS r_q,
         ${quintSql("CAST(freq AS DOUBLE)", "fc")} AS f_q,
         ${quintSql("mon", "mc")} AS m_q, freq, mon
       FROM cust CROSS JOIN th) z
       GROUP BY r_q, f_q, m_q
       ORDER BY r_q, f_q, m_q"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t20_rfm" -> (t20Rfm _),
    "q42_histogram" -> (q42Histogram _),
    "t16_scd2_intervals" -> (t16Scd2Intervals _),
    "s02_weighted_sample" -> (s02WeightedSample _),
    "q41_bloom_semijoin" -> (q41BloomSemijoin _),
    "q38_order_gaps" -> (q38OrderGaps _),
    "t12_funnel" -> (t12Funnel _),
    "q34_full_outer" -> (q34FullOuter _),
    "q32_exists_subquery" -> (q32ExistsSubquery _),
    "q33_percentiles" -> (q33Percentiles _),
    "q28_window_distribution" -> (q28WindowDistribution _),
    "q29_intersect_all" -> (q29IntersectAll _),
    "q30_lateral_tokens" -> (q30LateralTokens _),
    "q31_cohort_retention" -> (q31CohortRetention _),
    "s01_stratified_sample" -> (s01StratifiedSample _),
    "s03_hash_split" -> (s03HashSplit _),
    "s05_group_split" -> (s05GroupSplit _),
    "s07_epoch_reshuffle" -> (s07EpochReshuffle _),
    "q60_stage_latency" -> (q60StageLatency _),
    "q63_attribution" -> (q63Attribution _),
    "s04_balanced_sample" -> (s04BalancedSample _),
    "q44_merge_upsert" -> (q44MergeUpsert _),
    "t10_date_spine" -> (t10DateSpine _),
    "t11_rolling_window" -> (t11RollingWindow _))

  val oracles: Map[String, String] = Map(
    "s07_epoch_reshuffle" -> s07Sql,
    "t20_rfm" -> t20Sql,
    "q42_histogram" -> q42Sql,
    "t16_scd2_intervals" -> t16Sql,
    "s02_weighted_sample" -> s02Sql,
    "q41_bloom_semijoin" -> q41Sql,
    "q38_order_gaps" -> q38Sql,
    "t12_funnel" -> t12Sql,
    "q34_full_outer" -> q34Sql,
    "q32_exists_subquery" -> q32Sql,
    "q33_percentiles" -> q33Sql,
    "q28_window_distribution" -> q28Sql,
    "q29_intersect_all" -> q29Sql,
    "q30_lateral_tokens" -> q30Sql,
    "q31_cohort_retention" -> q31Sql,
    "s01_stratified_sample" -> s01Sql,
    "s03_hash_split" -> s03Sql,
    "s05_group_split" -> s05Sql,
    "q60_stage_latency" -> q60Sql,
    "q63_attribution" -> q63Sql,
    "s04_balanced_sample" -> s04Sql,
    "q44_merge_upsert" -> q44Sql,
    "t10_date_spine" -> t10Sql,
    "t11_rolling_window" -> t11Sql)
}
