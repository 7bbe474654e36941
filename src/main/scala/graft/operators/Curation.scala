package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Num._
import TextOps.{toks, toksSql}

/** Corpus-curation operators for a large-scale training-data pipeline —
  * the steps between raw documents and a packed training set that the
  * text-analysis (`TextOps`) and dedup (`DedupLsh`/`Corpus`) families
  * don't cover: benchmark decontamination, PII scrubbing, repetition
  * filtering (Gopher-style), target-mixture resampling, and fixed-budget
  * sequence packing.
  *
  * Every query is oracle-checked. Determinism contract: sampling uses the
  * seeded LCG family from s01 (`(id·48271 + inc) % 1000003 % 1000`, a
  * different increment per operator so samples decorrelate), rate math is
  * pure BIGINT division (Spark `div` ≡ DuckDB `//` on non-negative
  * values), and every double ratio flows through [[Num.r]].
  *
  * Structure: each stage has ONE pair of builders — a Spark
  * Column/DataFrame fragment and a DuckDB CTE/SQL fragment — shared by
  * the standalone query (d16–d20) and the end-to-end composition (d23),
  * so an edit to a stage propagates to both and the composition cannot
  * silently drift from the oracle-checked standalone semantics.
  */
object Curation {

  /** seeded permille hash of a bigint id column (Spark side). */
  private def lcg(id: Column, inc: Long): Column =
    ((id * lit(48271L) + lit(inc)) % lit(1000003L)) % lit(1000L)

  private def lcgSql(id: String, inc: Long): String =
    s"((CAST($id AS BIGINT) * 48271 + $inc) % 1000003) % 1000"

  // --- shared stage builders ---------------------------------------------

  /** d17's deterministic PII planting over (doc_id, text): every 7th doc
    * gets an email, every 11th a phone — the SAME construction in both
    * engines, so the scrubber is provably in the path. */
  private[graft] val dirtyCol: Column = concat(col("text"),
    when(col("doc_id") % 7 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com now"))).otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      concat(lit(" call 555-"), (col("doc_id") % 9000 + 1000).cast("string"),
        lit("-1234"))).otherwise(lit("")))

  /** d17's scrubber: regex redaction of emails then phones. */
  private[graft] def cleanCol(dirty: Column): Column =
    regexp_replace(regexp_replace(dirty, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  private[graft] val dirtySql: String =
    """text || CASE WHEN doc_id % 7 = 0
      |             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
      |             ELSE '' END
      |     || CASE WHEN doc_id % 11 = 0
      |             THEN ' call 555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || '-1234'
      |             ELSE '' END""".stripMargin

  private[graft] def cleanSql(e: String): String =
    s"regexp_replace(regexp_replace($e, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')"

  /** distinct n-gram array over a token array column `tk` (empty when the
    * doc is shorter than n) — d16 uses n=3, d23 n=5 (see the saturation
    * note on [[d23CurationPacking]]). */
  private[graft] def gramsCol(n: Int): Column = {
    val cat = (0 until n).map(j => if (j == 0) "tk[i]" else s"tk[i + $j]")
      .mkString(", ' ', ")
    when(size(col("tk")) >= n,
      expr(s"array_distinct(transform(sequence(0, size(tk) - $n), i -> concat($cat)))"))
      .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
  }

  private[graft] def gramsSql(n: Int): String = {
    val cat = (0 until n).map(j => if (j == 0) "tk[i]" else s"tk[i + $j]")
      .mkString(" || ' ' || ")
    s"""CASE WHEN len(tk) >= $n
       THEN list_distinct(list_transform(range(1, len(tk) - ${n - 2}), i -> $cat))
       ELSE CAST([] AS VARCHAR[]) END"""
  }

  /** d16's decontamination core over a (doc_id, gs) relation:
    * deterministic benchmark split (lcg inc=37 below [[BenchPermille]]),
    * benchmark-sized distinct n-gram set broadcast against ONE explode of
    * the train side; returns (doc_id, n_ngrams, n_hits) per TRAIN doc. */
  private[graft] def contamHits(s: SparkSession, g0: DataFrame): DataFrame = {
    import s.implicits._
    val bench = g0.filter(lcg($"doc_id", 37L) < BenchPermille)
      .select(explode($"gs").as("bg")).distinct()
    g0.filter(lcg($"doc_id", 37L) >= BenchPermille)
      .select($"doc_id", size($"gs").as("n_ngrams"), explode_outer($"gs").as("g"))
      .join(broadcast(bench), $"g" === $"bg", "left")
      .groupBy($"doc_id", $"n_ngrams")
      .agg(count($"bg").as("n_hits"))
  }

  /** contamination ratio over [[contamHits]]' output columns (0.0 for
    * gram-less docs, so a `< threshold` filter keeps them). */
  private[graft] def contamRatioCol: Column =
    when(col("n_ngrams") > 0, r(col("n_hits").cast("double") / col("n_ngrams"), 6))
      .otherwise(lit(0.0))

  /** bench/tg/hits CTE block over a CTE `src` with (doc_id, gs) and the
    * named lcg column — the SQL twin of [[contamHits]]. */
  private[graft] def contamCtesSql(src: String, lcgCol: String): String =
    s"""bench AS (SELECT DISTINCT unnest(gs) AS g FROM $src WHERE $lcgCol < $BenchPermille),
       tg AS (SELECT doc_id, unnest(gs) AS g FROM $src WHERE $lcgCol >= $BenchPermille),
       hits AS (SELECT t.doc_id, count(b.g) AS n_hits
                FROM tg t LEFT JOIN bench b ON t.g = b.g GROUP BY t.doc_id)"""

  private[graft] def contamRatioSql(gsLen: String, hits: String): String =
    s"CASE WHEN $gsLen > 0 THEN ${rSql(s"COALESCE($hits, 0) / $gsLen", 6)} ELSE 0.0 END"

  /** d18's repetition core over a (doc_id, tk) relation: scan-local
    * duplicate-bigram ratio computed BELOW the explode (generator-hoist
    * trap, CLAUDE.md invariant 5 — measured 40× redundant array work
    * otherwise), then explode → (doc, tok) count → per-doc rollup.
    * Returns (doc_id, n_tokens, dup_bigram_ratio, n_distinct_tokens,
    * top_cnt) for docs with at least one token. */
  private[graft] def repetitionStats(s: SparkSession, tk: DataFrame): DataFrame = {
    import s.implicits._
    val bg = when(size($"tk") >= 2,
      expr("transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1]))"))
      .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
    tk.filter(size($"tk") > 0)
      .select($"doc_id", $"tk", bg.as("bg"))
      .select($"doc_id", $"tk", size($"tk").as("n_tokens"),
        when(size($"bg") > 0,
          r(lit(1.0) - size(array_distinct($"bg")).cast("double") / size($"bg"), 6))
          .otherwise(lit(0.0)).as("dup_bigram_ratio"))
      .select($"doc_id", $"n_tokens", $"dup_bigram_ratio", explode($"tk").as("tok"))
      .groupBy($"doc_id", $"n_tokens", $"dup_bigram_ratio", $"tok")
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"n_tokens", $"dup_bigram_ratio")
      .agg(count(lit(1)).as("n_distinct_tokens"), max($"c").as("top_cnt"))
  }

  /** the composite gate over the ROUNDED ratios (both engines flip at
    * identical boundaries). */
  private[graft] def repetitiveGate(topRatio: Column, dupRatio: Column): Column =
    topRatio >= TopTokThreshold || dupRatio >= DupBigramThreshold

  /** bg0/rb/te/cnt CTE block over a CTE `src` with (doc_id, tk) — the SQL
    * twin of [[repetitionStats]] up to the final rollup (left to the
    * caller: d18 selects full stats, d23 gates in a HAVING). */
  private[graft] def repetitionCtesSql(src: String): String =
    s"""bg0 AS (SELECT doc_id, tk,
         CASE WHEN len(tk) >= 2
              THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
              ELSE CAST([] AS VARCHAR[]) END AS bg
       FROM $src WHERE len(tk) > 0),
       rb AS (SELECT doc_id, tk,
         CASE WHEN len(bg) > 0 THEN ${rSql("1.0 - len(list_distinct(bg)) / len(bg)", 6)}
              ELSE 0.0 END AS dup_bigram_ratio
       FROM bg0),
       te AS (SELECT doc_id, len(tk) AS n_tokens, dup_bigram_ratio, unnest(tk) AS tok FROM rb),
       cnt AS (SELECT doc_id, n_tokens, dup_bigram_ratio, tok, count(*) AS c
               FROM te GROUP BY doc_id, n_tokens, dup_bigram_ratio, tok)"""

  private[graft] def repetitiveGateSql(topRatio: String, dupRatio: String): String =
    s"($topRatio) >= $TopTokThreshold OR $dupRatio >= $DupBigramThreshold"

  /** d19's rate derivation: the broadcastable (src, permille) rate table
    * for a corpus relation with a `source` column — per-source rates from
    * relative weights at a half-corpus budget, pure BIGINT math. */
  private[graft] def mixRates(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val w = when($"source".isin("src0", "src1", "src2"), 300L)
      .when($"source".isin("src3", "src4"), 200L)
      .otherwise(25L)
    val perSrc = docs.groupBy($"source").agg(count(lit(1)).as("n_s"))
      .withColumn("w", w)
    val tot = perSrc.agg(sum($"n_s").as("n_total"), sum($"w").as("sum_w"))
    perSrc.crossJoin(broadcast(tot))
      .select($"source".as("src"),
        least(lit(1000L),
          expr("((w * n_total) div (2 * sum_w)) * 1000 div n_s")).as("permille"))
  }

  /** the scan-local acceptance predicate paired with [[mixRates]]. */
  private[graft] def mixAccept: Column = lcg(col("doc_id"), 101L) < col("permille")

  /** ps/tot/rates CTE block over a relation `src` with a `source` column
    * — the SQL twin of [[mixRates]]. */
  private[graft] def mixRatesCtesSql(src: String): String =
    s"""ps AS (SELECT source, count(*) AS n_s,
         CASE WHEN source IN ('src0','src1','src2') THEN 300
              WHEN source IN ('src3','src4') THEN 200
              ELSE 25 END AS w
       FROM $src GROUP BY source),
       tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
                      CAST(sum(w) AS BIGINT) AS sum_w FROM ps),
       rates AS (SELECT source AS src,
         CAST(least(1000, ((w * n_total) // (2 * sum_w)) * 1000 // n_s) AS BIGINT) AS permille
       FROM ps CROSS JOIN tot)"""

  /** d20's bounded-shard packing over a (doc_id, lang, n_tok) relation:
    * (lang, shard-of-100-docs) running token sums → [[PackBudget]]-token
    * sequence ids → per-sequence rollup, totally ordered. */
  private[graft] def packSequences(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val win = Window.partitionBy($"lang", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard", expr("doc_id div 100"))
      .withColumn("cum", sum($"n_tok").over(win))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $PackBudget"))
      .groupBy($"lang", $"shard", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("seq_tokens"),
        min($"doc_id").as("first_doc"))
      .orderBy($"lang", $"shard", $"seq_id")
  }

  /** the c CTE + final SELECT over a relation `src` with
    * (doc_id, lang, n_tok) — the SQL twin of [[packSequences]],
    * terminating the statement (includes the total-order ORDER BY). */
  private[graft] def packSelectSql(src: String): String =
    s"""c AS (SELECT doc_id, lang, shard, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       FROM (SELECT doc_id, lang, n_tok, doc_id // 100 AS shard FROM $src) zp)
       SELECT lang, shard, CAST((cum - n_tok) // $PackBudget AS BIGINT) AS seq_id,
         count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
         min(doc_id) AS first_doc
       FROM c GROUP BY lang, shard, seq_id
       ORDER BY lang, shard, seq_id"""

  // --- d16: benchmark n-gram decontamination ---------------------------

  private[graft] val BenchPermille = 50L
  private[graft] val ContamThreshold = 0.2

  /** d16 — benchmark decontamination: a deterministic ~5 % hash-sample of
    * the corpus plays the held-out eval set; every remaining (train)
    * document is scored by the fraction of its distinct token trigrams
    * that appear anywhere in the benchmark — the n-gram-overlap test used
    * to keep eval data out of LLM training sets. Trigrams (rather than
    * the 8–13-grams used on web corpora) fit this corpus's ~30-word
    * vocabulary so overlap rates are non-degenerate.
    *
    * Plan shape: the benchmark side filters on a scan-local LCG predicate
    * BEFORE tokenizing (predicate pushes below the projection), so its
    * distinct-trigram set is benchmark-sized — fixed, broadcastable at
    * any corpus scale. The train side is one explode → broadcast left
    * join → per-doc count: linear, no shuffle of raw text. */
  def d16Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", toks(lower($"text")).as("tk"))
      .select($"doc_id", gramsCol(3).as("gs"))
    contamHits(s, docs)
      .select($"doc_id", $"n_ngrams", $"n_hits",
        contamRatioCol.as("contam_ratio"))
      .withColumn("contaminated", ($"contam_ratio" >= ContamThreshold).cast("int"))
      .orderBy($"doc_id")
  }

  val d16Sql: String = {
    val ratio = contamRatioSql("len(tr.gs)", "h.n_hits")
    s"""WITH tk0 AS (SELECT doc_id, ${lcgSql("doc_id", 37L)} AS lcg,
         ${gramsSql(3)} AS gs
       FROM (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents) z),
       ${contamCtesSql("tk0", "lcg")},
       train AS (SELECT doc_id, gs FROM tk0 WHERE lcg >= $BenchPermille)
       SELECT tr.doc_id, len(tr.gs) AS n_ngrams,
         COALESCE(h.n_hits, 0) AS n_hits,
         $ratio AS contam_ratio,
         CAST(($ratio) >= $ContamThreshold AS INTEGER) AS contaminated
       FROM train tr LEFT JOIN hits h ON tr.doc_id = h.doc_id
       ORDER BY tr.doc_id"""
  }

  // --- d35: train→test split-leakage audit ------------------------------

  private[graft] val LeakN = 5
  private[graft] val LeakTau = 0.2

  /** d35 — split-leakage audit: check s03's TEST decile against its own
    * TRAIN split by distinct 5-gram overlap (the self-audit complement of
    * d16, which protects an EXTERNAL benchmark: there the reference side
    * is benchmark-sized and broadcasts; here it is corpus-sized, so the
    * membership test is a uniform gram-KEY equi-join — the
    * decontamination plan shape that remains when neither side is small).
    * Per test doc: distinct 5-grams, how many occur anywhere in train,
    * the rounded overlap ratio, and the leaked flag (ratio ≥
    * [[LeakTau]]). 5-grams per the d23 saturation note (trigrams flag
    * ~everything on this vocabulary).
    *
    * Scale shape: both sides tokenize scan-locally below their split
    * predicates; one distinct shuffle on the train gram key, one explode
    * + equi-join + per-doc count on the test decile. Linear; no text is
    * ever shuffled. */
  def d35SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached BEFORE the explodes: a generator re-evaluates its child per
    // OUTPUT row (CLAUDE.md invariant 5), so exploding the un-materialized
    // gram arrays re-ran the transform+array_distinct per emitted gram —
    // measured 30 s → 3 s at sf0.1. The cache also serves both split
    // branches with one tokenization pass.
    val g0 = Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
      .select($"doc_id", $"h", toks(lower($"text")).as("tk"))
      .select($"doc_id", $"h", gramsCol(LeakN).as("gs"))
      .cache()
    val trainG = g0.filter($"h" <= 7).select(explode($"gs").as("tg")).distinct()
    g0.filter($"h" === 9)
      .select($"doc_id", size($"gs").as("n_ngrams"), explode_outer($"gs").as("g"))
      .join(trainG, $"g" === $"tg", "left")
      .groupBy($"doc_id", $"n_ngrams")
      .agg(count($"tg").as("n_hits"))
      .select($"doc_id", $"n_ngrams", $"n_hits",
        contamRatioCol.as("leak_ratio"))
      .withColumn("leaked", ($"leak_ratio" >= LeakTau).cast("int"))
      .orderBy($"doc_id")
  }

  val d35Sql: String = {
    val ratio = contamRatioSql("te.n_ngrams", "h.n_hits")
    s"""WITH g0 AS (SELECT doc_id,
         ${DedupLsh.h60Sql("doc_id::VARCHAR")} % 10 AS h,
         ${gramsSql(LeakN)} AS gs
       FROM (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents) z),
       tr AS (SELECT DISTINCT unnest(gs) AS tg FROM g0 WHERE h <= 7),
       tg AS (SELECT doc_id, unnest(gs) AS g FROM g0 WHERE h = 9),
       hits AS (SELECT t.doc_id, count(b.tg) AS n_hits
         FROM tg t LEFT JOIN tr b ON t.g = b.tg GROUP BY t.doc_id),
       te AS (SELECT doc_id, len(gs) AS n_ngrams FROM g0 WHERE h = 9)
       SELECT te.doc_id, te.n_ngrams, COALESCE(h.n_hits, 0) AS n_hits,
         $ratio AS leak_ratio,
         CAST(($ratio) >= $LeakTau AS INTEGER) AS leaked
       FROM te LEFT JOIN hits h ON te.doc_id = h.doc_id
       ORDER BY te.doc_id"""
  }

  // --- d46: source×source n-gram containment matrix ----------------------

  /** d46 — cross-source overlap matrix: for every ordered source pair
    * (a, b), the containment C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)|
    * over distinct 5-grams — the corpus-level view of d35's split audit
    * (d35 asks "does MY test decile leak from MY train split"; d46 asks
    * "which ingestion sources are re-crawling each other", the question
    * that decides whether two feeds should even coexist in a mix).
    * Asymmetric by construction: a small feed fully contained in a big
    * one scores 1.0 one way and near 0 the other. Absent pairs zero-fill
    * so the matrix is always |sources|·(|sources|−1) rows.
    *
    * Scale shape: gram arrays materialize once before the explode
    * (invariant 5); the (source, gram) distinct is one uniform-key
    * shuffle; the pair counts are a gram-keyed self-equi-join whose
    * fan-out per gram is bounded by |sources|² — the d35 equi-join shape,
    * never all-pairs of documents. */
  def d46SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sourceOverlap(Tables.documents(s, dir).select($"source", $"text"))
  }

  /** d46's core over (source, text) — exposed for the planted-overlap
    * spec. */
  private[graft] def sourceOverlap(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val g0 = docs
      .select($"source", toks(lower($"text")).as("tk"))
      .select($"source", gramsCol(LeakN).as("gs"))
      .cache()
    val sg = g0.select($"source", explode($"gs").as("g")).distinct().cache()
    val tot = sg.groupBy($"source").agg(count(lit(1)).as("n_grams"))
    val srcs = g0.select($"source").distinct()
    val pairs = srcs.as("pa").crossJoin(srcs.as("pb"))
      .select(col("pa.source").as("src_a"), col("pb.source").as("src_b"))
      .filter($"src_a" =!= $"src_b")
    val shared = sg.as("x").join(sg.as("y"),
        col("x.g") === col("y.g") && col("x.source") =!= col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared0"))
    pairs
      .join(broadcast(tot.select($"source".as("src_a"),
        $"n_grams".as("n_grams_a"))), Seq("src_a"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select($"src_a", $"src_b", $"n_grams_a",
        coalesce($"n_shared0", lit(0L)).as("n_shared"),
        r(coalesce($"n_shared0", lit(0L)).cast("double") /
          $"n_grams_a".cast("double"), 6).as("containment"))
      .orderBy($"src_a", $"src_b")
  }

  val d46Sql: String =
    s"""WITH g0 AS MATERIALIZED (SELECT source, ${gramsSql(LeakN)} AS gs
         FROM (SELECT source, ${toksSql("lower(text)")} AS tk FROM documents) z),
       sg AS MATERIALIZED (SELECT DISTINCT source, unnest(gs) AS g FROM g0),
       tot AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY source),
       srcs AS (SELECT DISTINCT source FROM g0),
       pairs AS (SELECT a.source AS src_a, b.source AS src_b
         FROM srcs a, srcs b WHERE a.source != b.source),
       sh AS (SELECT x.source AS src_a, y.source AS src_b,
           count(*) AS n_shared0
         FROM sg x JOIN sg y ON x.g = y.g AND x.source != y.source
         GROUP BY x.source, y.source)
       SELECT p.src_a, p.src_b, CAST(t.n_grams AS BIGINT) AS n_grams_a,
         CAST(coalesce(s.n_shared0, 0) AS BIGINT) AS n_shared,
         ${rSql("CAST(coalesce(s.n_shared0, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)", 6)} AS containment
       FROM pairs p JOIN tot t ON t.source = p.src_a
       LEFT JOIN sh s ON s.src_a = p.src_a AND s.src_b = p.src_b
       ORDER BY p.src_a, p.src_b"""

  // --- ml19: PSI drift audit between the s03 train and test splits --------

  /** ml19's bin count — 10 equi-width bins, the standard PSI grid. */
  private val PsiBins = 10

  /** ml19 — Population Stability Index between s03's train (h ≤ 7) and
    * test (h = 9) splits over two document features (n_chars, n_tokens):
    * PSI = Σ_b (p_b − q_b)·ln(p_b/q_b), the drift gauge every deployed
    * scoring pipeline monitors (rule of thumb: < 0.1 stable, > 0.25
    * shifted). A HASH split should score ≈ 0 — so this audit doubles as
    * the empirical check that s03's md5 split is unbiased. Counts are
    * +1-Laplace-smoothed so empty bins stay finite AND every ln argument
    * is an exact integer (the d10 ln-parity family: ln(p/q) expands to
    * ± lns of integer counts — bit-portable). Absent bins zero-fill, so
    * the grid is always features × [[PsiBins]] rows; the per-feature
    * total re-enters decimal (order-independent) and repeats on each row.
    *
    * Scale shape: one scan builds both features; bounds are a
    * feature-keyed 2-row aggregate (broadcast back); counts are one
    * map-side-combinable (feature, bin, split) aggregation; everything
    * after is 20 rows. */
  def ml19PsiDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = lit(PsiBins.toDouble)
    val feats = Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
      .filter($"h" <= 7 || $"h" === 9)
      .select(when($"h" <= 7, lit("train")).otherwise(lit("test")).as("split"),
        explode(array(
          struct(lit("n_chars").as("feature"), $"n_chars".cast("double").as("x")),
          struct(lit("n_tokens").as("feature"),
            size(toks(lower($"text"))).cast("double").as("x")))).as("f"))
      .select($"split", $"f.feature", $"f.x")
      .cache() // feeds bounds and counts
    val bounds = feats.groupBy($"feature").agg(min($"x").as("lo"), max($"x").as("hi"))
    val counted = feats.join(broadcast(bounds), "feature")
      .withColumn("bin",
        when($"hi" === $"lo", lit(1))
          .otherwise(least(b, lit(1.0) +
            floor(($"x" - $"lo") / (($"hi" - $"lo") / b))).cast("int")))
      .groupBy($"feature", $"bin")
      .agg(sum(when($"split" === "train", 1L).otherwise(0L)).as("ntr0"),
        sum(when($"split" === "test", 1L).otherwise(0L)).as("nte0"))
    val axis = bounds.select($"feature")
      .crossJoin(broadcast(Seq.range(1, PsiBins + 1).toDF("bin")))
    val wf = Window.partitionBy($"feature")
    val terms = axis.join(counted, Seq("feature", "bin"), "left")
      .select($"feature", $"bin",
        coalesce($"ntr0", lit(0L)).as("n_train"),
        coalesce($"nte0", lit(0L)).as("n_test"))
      .withColumn("ttr", sum($"n_train").over(wf))
      .withColumn("tte", sum($"n_test").over(wf))
      .withColumn("p", ($"n_train" + 1).cast("double") / ($"ttr" + PsiBins).cast("double"))
      .withColumn("q", ($"n_test" + 1).cast("double") / ($"tte" + PsiBins).cast("double"))
      .withColumn("term", ($"p" - $"q") *
        ((log(($"n_train" + 1).cast("double")) - log(($"ttr" + PsiBins).cast("double"))) -
          (log(($"n_test" + 1).cast("double")) - log(($"tte" + PsiBins).cast("double")))))
      .cache() // feeds the per-bin output and the per-feature total
    val tot = terms.groupBy($"feature").agg(r(dsum($"term"), 6).as("psi"))
    terms
      .join(broadcast(tot), Seq("feature"))
      .select($"feature", $"bin", $"n_train", $"n_test",
        r($"p", 6).as("p_train"), r($"q", 6).as("p_test"),
        r($"term", 6).as("psi_term"), $"psi")
      .orderBy($"feature", $"bin")
  }

  val ml19Sql: String = {
    val p = "CAST(n_train + 1 AS DOUBLE) / CAST(ttr + 10 AS DOUBLE)"
    val q = "CAST(n_test + 1 AS DOUBLE) / CAST(tte + 10 AS DOUBLE)"
    val term = s"(($p) - ($q)) * ((ln(CAST(n_train + 1 AS DOUBLE)) - ln(CAST(ttr + 10 AS DOUBLE))) - (ln(CAST(n_test + 1 AS DOUBLE)) - ln(CAST(tte + 10 AS DOUBLE))))"
    s"""WITH fx AS MATERIALIZED (SELECT
         CASE WHEN h <= 7 THEN 'train' ELSE 'test' END AS split, feature, x
       FROM (SELECT ${DedupLsh.h60Sql("doc_id::VARCHAR")} % 10 AS h,
           unnest(['n_chars', 'n_tokens']) AS feature,
           unnest([CAST(n_chars AS DOUBLE),
             CAST(len(${toksSql("lower(text)")}) AS DOUBLE)]) AS x
         FROM documents) z
       WHERE h <= 7 OR h = 9),
       bnd AS (SELECT feature, min(x) AS lo, max(x) AS hi FROM fx GROUP BY feature),
       cnt AS (SELECT fx.feature,
           CASE WHEN hi = lo THEN 1
                ELSE CAST(least(10.0, 1.0 + floor((x - lo) / ((hi - lo) / 10.0))) AS INTEGER)
           END AS bin,
           CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS ntr0,
           CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS nte0
         FROM fx JOIN bnd ON bnd.feature = fx.feature
         GROUP BY 1, 2),
       ax AS (SELECT feature, unnest(generate_series(1, 10)) AS bin FROM bnd),
       tm AS (SELECT feature, bin, n_train, n_test, ttr, tte, $term AS term
         FROM (SELECT a.feature, a.bin,
             coalesce(c.ntr0, 0) AS n_train, coalesce(c.nte0, 0) AS n_test,
             sum(coalesce(c.ntr0, 0)) OVER (PARTITION BY a.feature) AS ttr,
             sum(coalesce(c.nte0, 0)) OVER (PARTITION BY a.feature) AS tte
           FROM ax a LEFT JOIN cnt c ON c.feature = a.feature AND c.bin = a.bin) y),
       psi AS (SELECT feature, ${rSql(dsumSql("term"), 6)} AS psi
         FROM tm GROUP BY feature)
       SELECT t.feature, CAST(t.bin AS INTEGER) AS bin, t.n_train, t.n_test,
         ${rSql(p, 6)} AS p_train, ${rSql(q, 6)} AS p_test,
         ${rSql("term", 6)} AS psi_term, psi.psi
       FROM tm t JOIN psi ON psi.feature = t.feature
       ORDER BY t.feature, t.bin"""
  }

  // --- ml20: information-gain feature ranking against the lang label ------

  /** ml20 — mutual-information feature ranking: for each document feature
    * (ml19's n_chars / n_tokens, same 10-bin equi-width grid), the
    * information gain against the lang label, IG = H(lang) − H(lang|bin)
    * = MI(bin, lang) — the model-free feature-selection score (q54 scores
    * one fixed column pair on events; ml20 ranks the classifier features
    * d03/ml05 actually consume). Everything expands from ONE
    * (feature, bin, lang) cell count via the exact-count identity
    * MI = ln N − S_l/N − S_b/N + S_bl/N with S_* = Σ c·ln c over the
    * respective marginal — every ln argument an exact integer count (d10
    * ln-parity family), every sum decimal. ig_ratio = MI/H(lang) ∈ [0,1]
    * (0 = independent, 1 = feature determines the label).
    *
    * Scale shape: one scan builds features; cells are one
    * map-side-combinable aggregation, bounded by bins × langs per
    * feature; marginals re-aggregate the tiny cell frame. */
  def ml20InfoGain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    infoGain(Tables.documents(s, dir)
      .select(coalesce($"lang", lit("")).as("lang"),
        explode(array(
          struct(lit("n_chars").as("feature"), $"n_chars".cast("double").as("x")),
          struct(lit("n_tokens").as("feature"),
            size(toks(lower($"text"))).cast("double").as("x")))).as("f"))
      .select($"lang", $"f.feature", $"f.x"))
  }

  /** ml20's core over (lang, feature, x) — exposed so the spec can plant
    * perfectly-dependent and independent features. */
  private[graft] def infoGain(f00: DataFrame): DataFrame = {
    val s = f00.sparkSession
    import s.implicits._
    val b = lit(PsiBins.toDouble)
    val f0 = f00.cache()
    val bounds = f0.groupBy($"feature").agg(min($"x").as("lo"), max($"x").as("hi"))
    val cells = f0.join(broadcast(bounds), "feature")
      .withColumn("bin",
        when($"hi" === $"lo", lit(1))
          .otherwise(least(b, lit(1.0) +
            floor(($"x" - $"lo") / (($"hi" - $"lo") / b))).cast("int")))
      .groupBy($"feature", $"bin", $"lang")
      .agg(count(lit(1)).as("c"))
      .cache() // three marginal aggregations read it
    val cln = (cc: Column) => cc.cast("double") * log(cc.cast("double"))
    val sbl = cells.groupBy($"feature").agg(dsum(cln($"c")).as("sbl"))
    val sb = cells.groupBy($"feature", $"bin").agg(sum($"c").as("cb"))
      .groupBy($"feature")
      .agg(dsum(cln($"cb")).as("sb"), sum($"cb").as("nn"))
    val sl = cells.groupBy($"feature", $"lang").agg(sum($"c").as("cl"))
      .groupBy($"feature").agg(dsum(cln($"cl")).as("sl"))
    val hl = log($"nn".cast("double")) - $"sl" / $"nn".cast("double")
    val mi = log($"nn".cast("double")) - $"sl" / $"nn".cast("double") -
      $"sb" / $"nn".cast("double") + $"sbl" / $"nn".cast("double")
    sb.join(sl, "feature").join(sbl, "feature")
      .select($"feature", $"nn".as("n_docs"),
        r(hl, 6).as("h_label"), r(mi, 6).as("mi"),
        when(r(hl, 6) === 0.0, lit(0.0)).otherwise(r(mi / hl, 6)).as("ig_ratio"))
      .orderBy($"feature")
  }

  val ml20Sql: String = {
    def cln(c: String) = s"CAST($c AS DOUBLE) * ln(CAST($c AS DOUBLE))"
    val hl = "ln(CAST(nn AS DOUBLE)) - sl / CAST(nn AS DOUBLE)"
    val mi = "ln(CAST(nn AS DOUBLE)) - sl / CAST(nn AS DOUBLE) - sb / CAST(nn AS DOUBLE) + sbl / CAST(nn AS DOUBLE)"
    s"""WITH fx AS MATERIALIZED (SELECT coalesce(lang, '') AS lang, feature, x
       FROM (SELECT lang,
           unnest(['n_chars', 'n_tokens']) AS feature,
           unnest([CAST(n_chars AS DOUBLE),
             CAST(len(${toksSql("lower(text)")}) AS DOUBLE)]) AS x
         FROM documents) z),
       bnd AS (SELECT feature, min(x) AS lo, max(x) AS hi FROM fx GROUP BY feature),
       cells AS MATERIALIZED (SELECT fx.feature,
           CASE WHEN hi = lo THEN 1
                ELSE CAST(least(10.0, 1.0 + floor((x - lo) / ((hi - lo) / 10.0))) AS INTEGER)
           END AS bin, lang, count(*) AS c
         FROM fx JOIN bnd ON bnd.feature = fx.feature
         GROUP BY 1, 2, 3),
       sbl AS (SELECT feature, ${dsumSql(cln("c"))} AS sbl FROM cells GROUP BY feature),
       sb AS (SELECT feature, ${dsumSql(cln("cb"))} AS sb,
           CAST(sum(cb) AS BIGINT) AS nn
         FROM (SELECT feature, bin, CAST(sum(c) AS BIGINT) AS cb
           FROM cells GROUP BY feature, bin) m GROUP BY feature),
       sl AS (SELECT feature, ${dsumSql(cln("cl"))} AS sl
         FROM (SELECT feature, lang, CAST(sum(c) AS BIGINT) AS cl
           FROM cells GROUP BY feature, lang) m GROUP BY feature)
       SELECT sb.feature, nn AS n_docs,
         ${rSql(hl, 6)} AS h_label, ${rSql(mi, 6)} AS mi,
         CASE WHEN ${rSql(hl, 6)} = 0.0 THEN 0.0
              ELSE ${rSql(s"($mi) / ($hl)", 6)} END AS ig_ratio
       FROM sb JOIN sl ON sl.feature = sb.feature
       JOIN sbl ON sbl.feature = sb.feature
       ORDER BY sb.feature"""
  }

  // --- s06: temporal train/test split over events --------------------------

  /** s06 — time-based split: train on the past, evaluate on the future
    * (the ONLY leakage-sound discipline for forecasting targets —
    * s03/s05 hash/group splits would let tomorrow's events train
    * yesterday's model). Boundary = the exact interpolated p80 of the
    * event time axis (rounded before comparison, q33's policy); per
    * split: event/user counts and time range, plus the user-overlap
    * count — temporal splits deliberately SHARE users across the
    * boundary (that is the deployment condition), and the report makes
    * that visible instead of pretending otherwise.
    *
    * Scale shape: one exact-percentile aggregate (q39's sample is the
    * 100 TB drop-in), a broadcast boundary, two map-side rollups. */
  def s06TimeSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    timeSplit(Tables.events(s, dir)
      .select($"user_id", $"ts".cast("double").as("x")))
  }

  /** s06's core over (user_id, x) — exposed for the planted-boundary
    * spec. */
  private[graft] def timeSplit(ev0: DataFrame): DataFrame = {
    val s = ev0.sparkSession
    import s.implicits._
    val ev = ev0.cache()
    val b = ev.agg(r(percentile($"x", lit(0.8)), 6).as("tau"))
    val tagged = ev.crossJoin(broadcast(b))
      .withColumn("split", when($"x" <= $"tau", "train").otherwise("test"))
      .cache() // feeds the rollup and the overlap count
    val overlap = tagged.select($"user_id", $"split").distinct()
      .groupBy($"user_id").agg(count(lit(1)).as("ns"))
      .filter($"ns" === 2)
      .agg(count(lit(1)).as("n_overlap_users"))
    tagged.groupBy($"split")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        r(min($"x"), 6).as("min_ts"), r(max($"x"), 6).as("max_ts"),
        r(max($"tau"), 6).as("boundary"))
      .crossJoin(broadcast(overlap))
      .orderBy($"split")
  }

  val s06Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch(ts) AS x FROM events),
       b AS (SELECT ${rSql("quantile_cont(x, 0.8)", 6)} AS tau FROM ev),
       tg AS (SELECT user_id, x, tau,
           CASE WHEN x <= tau THEN 'train' ELSE 'test' END AS split
         FROM ev CROSS JOIN b),
       ov AS (SELECT count(*) AS n_overlap_users FROM (
           SELECT user_id FROM (SELECT DISTINCT user_id, split FROM tg) d
           GROUP BY user_id HAVING count(*) = 2) z)
       SELECT split, count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         ${rSql("min(x)", 6)} AS min_ts, ${rSql("max(x)", 6)} AS max_ts,
         ${rSql("max(tau)", 6)} AS boundary,
         n_overlap_users
       FROM tg CROSS JOIN ov
       GROUP BY split, n_overlap_users
       ORDER BY split"""

// --- s08: purged k-fold temporal CV with embargo --------------------------

  /** s08 — purged k-fold cross-validation with an embargo (Lopez de
    * Prado's leakage-aware CV, "Advances in Financial ML" ch. 7, the
    * standard for serially-correlated targets): s06 gives ONE
    * past/future split; K-fold evaluation on a time axis leaks twice —
    * training samples just BEFORE the test block share its label
    * horizon (purge) and samples just AFTER it see information the test
    * period revealed (embargo). Folds are contiguous integer-hour
    * blocks (fold = (h−hmin)·K div (span+1) — all-integer, no quantile
    * drift); for test fold f, train excludes the fold plus a G-hour
    * purge before its start and a G-hour embargo after its end. Per
    * fold: test/train/purged/embargoed counts and the exact hour
    * boundaries — every output an integer.
    *
    * Scale shape: one bounds aggregate, a K-row broadcast, one
    * conditional count pass — no shuffle beyond the K-row rollup. */
  def s08PurgedKfold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    purgedKfold(Tables.events(s, dir)
      .select((unix_timestamp(date_trunc("hour", $"ts")) / 3600L)
        .cast("long").as("h")), 5, 24L)
  }

  /** s08's core over (h) hour rows — exposed for the planted-grid spec. */
  private[graft] def purgedKfold(ev0: DataFrame, k: Int, g: Long): DataFrame = {
    val s = ev0.sparkSession
    import s.implicits._
    val ev = ev0.cache()
    val bounds = ev.agg(min($"h").as("hmin"), max($"h").as("hmax"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("fold",
        expr(s"least(${k - 1}, ((h - hmin) * $k) div (hmax - hmin + 1))"))
      .localCheckpoint(true) // feeds the fold table AND the count pass
    ev.unpersist(blocking = false)
    val folds = tagged.groupBy($"fold").agg(count(lit(1)).as("n_test"),
      min($"h").as("f_start"), max($"h").as("f_end"))
    tagged.select($"h").crossJoin(broadcast(folds))
      .groupBy($"fold", $"n_test", $"f_start", $"f_end")
      .agg(
        sum(when($"h" < $"f_start" - g || $"h" > $"f_end" + g, 1L)
          .otherwise(0L)).as("n_train"),
        sum(when($"h" < $"f_start" && $"h" >= $"f_start" - g, 1L)
          .otherwise(0L)).as("n_purged"),
        sum(when($"h" > $"f_end" && $"h" <= $"f_end" + g, 1L)
          .otherwise(0L)).as("n_embargoed"))
      .select($"fold".as("fold_id"), $"n_test", $"n_train", $"n_purged",
        $"n_embargoed", $"f_start", $"f_end")
      .orderBy($"fold_id")
  }

  val s08Sql: String =
    s"""WITH ev AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h
         FROM events),
       b AS (SELECT min(h) AS hmin, max(h) AS hmax FROM ev),
       tg AS MATERIALIZED (SELECT h,
           least(4, ((h - hmin) * 5) // (hmax - hmin + 1)) AS fold
         FROM ev CROSS JOIN b),
       fd AS (SELECT fold, count(*) AS n_test, min(h) AS f_start,
           max(h) AS f_end FROM tg GROUP BY fold)
       SELECT fold AS fold_id, n_test,
         CAST(sum(CASE WHEN t.h < f_start - 24 OR t.h > f_end + 24
           THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN t.h < f_start AND t.h >= f_start - 24
           THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
         CAST(sum(CASE WHEN t.h > f_end AND t.h <= f_end + 24
           THEN 1 ELSE 0 END) AS BIGINT) AS n_embargoed,
         f_start, f_end
       FROM (SELECT h FROM tg) t CROSS JOIN fd
       GROUP BY fold, n_test, f_start, f_end
       ORDER BY fold_id"""

  // --- d39: per-source n-gram novelty audit -------------------------------

  /** d39 — n-gram novelty audit: for each document, the fraction of its
    * distinct 5-grams FIRST introduced by that document (first occurrence
    * = min doc_id over the whole corpus), rolled up per source. The
    * memorization/duplication health metric of crawl ingestion: a source
    * whose novelty ratio collapses is re-crawling text the corpus already
    * has, even when no single document is an exact or near duplicate
    * (complements d04/d11, which find whole-doc duplicates, and d35,
    * which audits a specific split boundary).
    *
    * Scale shape: gram arrays are materialized once before the explode
    * (invariant 5), the first-seen table is ONE map-side-combinable
    * min(doc_id) per gram, and the novelty join is gram-keyed equi-join —
    * the d35 shape. Nothing ever shuffles text; everything downstream of
    * the two explodes is (gram)- or (doc)-sized. */
  def d39Novelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    noveltyReport(Tables.documents(s, dir)
      .select($"doc_id", coalesce($"source", lit("")).as("source"), $"text"))
  }

  /** d39's core over an explicit (doc_id, source, text) relation — exposed
    * so the spec can plant a corpus with hand-countable first occurrences. */
  private[graft] def noveltyReport(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val g0 = docs
      .select($"doc_id", $"source", toks(lower($"text")).as("tk"))
      .select($"doc_id", $"source", gramsCol(LeakN).as("gs"))
      .cache() // materialize gram arrays BEFORE the explodes (invariant 5)
    val first = g0.select(explode($"gs").as("g"), $"doc_id")
      .groupBy($"g").agg(min($"doc_id").as("first_doc"))
    val perDoc = g0
      .select($"doc_id", $"source", size($"gs").as("n_ngrams"),
        explode_outer($"gs").as("g"))
      .join(first, Seq("g"), "left")
      .groupBy($"doc_id", $"source", $"n_ngrams")
      .agg(count(when($"first_doc" === $"doc_id", 1)).as("n_novel"))
      .select($"source", $"n_ngrams", $"n_novel",
        when($"n_ngrams" > 0,
          r($"n_novel".cast("double") / $"n_ngrams", 6)).otherwise(lit(0.0))
          .as("doc_novelty"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_ngrams").as("n_grams"),
        sum($"n_novel").as("n_novel"),
        ravg($"doc_novelty", 6).as("mean_doc_novelty"))
      .select($"source", $"n_docs", $"n_grams", $"n_novel",
        when($"n_grams" > 0,
          r($"n_novel".cast("double") / $"n_grams", 6)).otherwise(lit(0.0))
          .as("novelty_ratio"),
        $"mean_doc_novelty")
      .orderBy($"source")
  }

  val d39Sql: String =
    s"""WITH g0 AS MATERIALIZED (SELECT doc_id, source, ${gramsSql(LeakN)} AS gs
       FROM (SELECT doc_id, coalesce(source, '') AS source,
             ${toksSql("lower(text)")} AS tk FROM documents) z),
       fg AS (SELECT g, min(doc_id) AS first_doc
         FROM (SELECT doc_id, unnest(gs) AS g FROM g0) e GROUP BY g),
       ex AS (SELECT doc_id, unnest(gs) AS g FROM g0),
       nv AS (SELECT e.doc_id,
           count(CASE WHEN f.first_doc = e.doc_id THEN 1 END) AS n_novel
         FROM ex e LEFT JOIN fg f ON f.g = e.g GROUP BY e.doc_id),
       pd AS (SELECT d.source, len(d.gs) AS n_ngrams,
           coalesce(n.n_novel, 0) AS n_novel,
           CASE WHEN len(d.gs) > 0
             THEN ${rSql("coalesce(n.n_novel, 0) / len(d.gs)", 6)}
             ELSE 0.0 END AS doc_novelty
         FROM g0 d LEFT JOIN nv n ON n.doc_id = d.doc_id)
       SELECT source, count(*) AS n_docs,
         CAST(sum(n_ngrams) AS BIGINT) AS n_grams,
         CAST(sum(n_novel) AS BIGINT) AS n_novel,
         CASE WHEN CAST(sum(n_ngrams) AS BIGINT) > 0
           THEN ${rSql("CAST(CAST(sum(n_novel) AS BIGINT) AS DOUBLE) / CAST(sum(n_ngrams) AS BIGINT)", 6)}
           ELSE 0.0 END AS novelty_ratio,
         ${ravgSql("doc_novelty", 6)} AS mean_doc_novelty
       FROM pd GROUP BY source ORDER BY source"""

  // --- d17: PII scrubbing -----------------------------------------------

  // Scala-escaped once: the actual patterns are [a-z0-9._%+-]+@... / \d{3}-…
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PhoneRe = "\\d{3}-\\d{4}-\\d{4}"

  /** d17 — PII scrubbing: regex redaction of emails and phone numbers
    * with per-document redaction counts and a fingerprint of the scrubbed
    * text. The synthetic corpus contains no PII, so the query plants it
    * deterministically first ([[dirtyCol]]), then proves the scrubber
    * removed exactly what was planted. Entirely scan-local: zero
    * shuffles, embarrassingly parallel at any scale. */
  def d17PiiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", dirtyCol.as("dirty"))
      .select($"doc_id", $"dirty", cleanCol($"dirty").as("clean"))
      .select($"doc_id",
        regexp_count($"dirty", lit(EmailRe)).as("n_emails"),
        regexp_count($"dirty", lit(PhoneRe)).as("n_phones"),
        md5($"clean").as("clean_fp"),
        (length($"dirty") - length($"clean")).as("n_masked_chars"))
      .withColumn("is_dirty", ($"n_emails" + $"n_phones" > 0).cast("int"))
      .orderBy($"doc_id")
  }

  val d17Sql: String =
    s"""WITH d AS (SELECT doc_id, $dirtySql AS dirty FROM documents),
       sc AS (SELECT doc_id, dirty, ${cleanSql("dirty")} AS clean FROM d)
       SELECT doc_id,
         len(regexp_extract_all(dirty, '$EmailRe')) AS n_emails,
         len(regexp_extract_all(dirty, '$PhoneRe')) AS n_phones,
         md5(clean) AS clean_fp,
         length(dirty) - length(clean) AS n_masked_chars,
         CAST(len(regexp_extract_all(dirty, '$EmailRe'))
            + len(regexp_extract_all(dirty, '$PhoneRe')) > 0 AS INTEGER) AS is_dirty
       FROM sc
       ORDER BY doc_id"""

  // --- d18: repetition filter (Gopher-style) ----------------------------

  private[graft] val TopTokThreshold = 0.2
  private[graft] val DupBigramThreshold = 0.3

  /** d18 — repetition filtering: per-document repeated-content signals in
    * the style of the Gopher quality rules — most-frequent-token mass,
    * distinct-token count, and duplicate-bigram fraction
    * ([[repetitionStats]]) — plus the composite `repetitive` gate. Every
    * shuffle keyed on uniformly distributed (doc_id, token) — linear at
    * any corpus size. The gate compares the ROUNDED ratios so both
    * engines flip at identical boundaries. */
  def d18RepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    repetitionStats(s, Tables.documents(s, dir)
      .select($"doc_id", toks(lower($"text")).as("tk")))
      .select($"doc_id", $"n_tokens", $"n_distinct_tokens",
        r($"top_cnt".cast("double") / $"n_tokens", 6).as("top_token_ratio"),
        $"dup_bigram_ratio")
      .withColumn("repetitive",
        repetitiveGate($"top_token_ratio", $"dup_bigram_ratio").cast("int"))
      .orderBy($"doc_id")
  }

  val d18Sql: String = {
    val topRatio = rSql("max(c) / n_tokens", 6)
    s"""WITH tk0 AS (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents),
       ${repetitionCtesSql("tk0")}
       SELECT doc_id, n_tokens, count(*) AS n_distinct_tokens,
         $topRatio AS top_token_ratio,
         dup_bigram_ratio,
         CAST((${repetitiveGateSql(topRatio, "dup_bigram_ratio")}) AS INTEGER) AS repetitive
       FROM cnt GROUP BY doc_id, n_tokens, dup_bigram_ratio
       ORDER BY doc_id"""
  }

  // --- d19: target-mixture resampling ------------------------------------

  /** d19 — domain mixture resampling: re-weight the corpus toward a
    * target source mixture (head sources up-weighted, the long tail
    * down-sampled) at a half-corpus token budget — the "data mixing" step
    * that turns a crawled pile into a training distribution. Per-source
    * rates are derived IN-PLAN from relative weights in pure BIGINT math
    * (`target_s = w_s·N / 2Σw`, rate = min(1000‰, 1000·target/n_s),
    * [[mixRates]]); the rate table is source-cardinality-sized and
    * broadcast, the acceptance test is the scan-local LCG — so the big
    * side never shuffles and the sample is byte-reproducible at any
    * scale. */
  def d19DomainMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    docs.join(broadcast(mixRates(s, docs)), $"source" === $"src")
      .filter(mixAccept)
      .select($"doc_id", $"source", $"lang", $"permille")
      .orderBy($"doc_id")
  }

  val d19Sql: String =
    s"""WITH ${mixRatesCtesSql("documents")}
       SELECT doc_id, source, lang, permille
       FROM documents d JOIN rates r ON d.source = r.src
       WHERE ${lcgSql("doc_id", 101L)} < permille
       ORDER BY doc_id"""

  // --- d29: temperature-scaled multilingual resampling --------------------

  /** d29 — temperature sampling across languages (Conneau et al. 2020,
    * XLM-R, arXiv:1911.02116 §3.1): rebalance the corpus toward
    * q_l ∝ (n_l/N)^α so low-resource languages are up-weighted relative
    * to their head-heavy natural distribution. α = 1/4, spelled
    * sqrt(sqrt(·)) — two IEEE-exact operations, bit-identical across
    * engines (pow(x, 0.25) would not be). Per-doc acceptance weight
    * a_l = (n_l/N)^α / n_l, normalized so the most-upweighted language
    * keeps everything, floored to a BIGINT permille; acceptance is d19's
    * scan-local LCG under a fresh increment.
    *
    * Scale shape: d19's exactly — one lang-cardinality aggregate, a
    * broadcast rate table, a scan-local acceptance filter; the corpus
    * side never shuffles and the sample is byte-reproducible anywhere. */
  def d29TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pl = docs.groupBy($"lang").agg(count(lit(1)).as("n_l"))
    val tot = pl.agg(sum($"n_l").as("n"))
    val a = pl.crossJoin(broadcast(tot))
      .select($"lang", $"n_l",
        (sqrt(sqrt($"n_l".cast("double") / $"n")) / $"n_l").as("a"))
    val mx = a.agg(max($"a").as("amax"))
    val rates = a.crossJoin(broadcast(mx))
      .select($"lang",
        floor($"a" / $"amax" * lit(1000.0)).cast("long").as("permille"))
    docs.join(broadcast(rates), "lang")
      .filter(lcg($"doc_id", 103L) < $"permille")
      .select($"doc_id", $"lang", $"source", $"permille")
      .orderBy($"doc_id")
  }

  val d29Sql: String =
    s"""WITH pl AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
       tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n FROM pl),
       a AS (SELECT lang, n_l, sqrt(sqrt(n_l / n)) / n_l AS a
             FROM pl CROSS JOIN tot),
       mx AS (SELECT max(a) AS amax FROM a),
       rates AS (SELECT lang, CAST(floor(a / amax * 1000.0) AS BIGINT) AS permille
                 FROM a CROSS JOIN mx)
       SELECT doc_id, lang, source, permille
       FROM documents d JOIN rates USING (lang)
       WHERE ${lcgSql("doc_id", 103L)} < permille
       ORDER BY doc_id"""

  // --- d20: fixed-budget sequence packing --------------------------------

  private[graft] val PackBudget = 512

  /** d20 — sequence packing: stream documents (deterministic doc_id
    * order) into fixed 512-token training sequences, concat-and-chunk
    * style — a document starts in the sequence its running token count
    * falls in ([[packSequences]]). Packing is per (lang, shard-of-100-
    * docs) so the cumulative window never sees an unbounded partition: at
    * 100 TB each shard packs locally (bounded waste at shard edges),
    * which is exactly how distributed packing is done — a single global
    * running sum would serialize the corpus through one task. Pure
    * integer math throughout. */
  def d20SeqPacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    packSequences(s, Tables.documents(s, dir)
      .select($"doc_id", $"lang", size(toks($"text")).as("n_tok")))
  }

  val d20Sql: String =
    s"""WITH t AS (SELECT doc_id, lang, len(${toksSql("text")}) AS n_tok
       FROM documents),
       ${packSelectSql("t")}"""

  // --- d22: the dataset card — one-row corpus summary ---------------------

  /** d22 — dataset card: the one-row summary a curation pipeline
    * publishes with a released corpus — document/token volume,
    * exact-duplicate ratio (d04's normalized fingerprint), language
    * distribution entropy, and mean quality score (d02's composite).
    * Three independent linear aggregation passes (tokens, fingerprints,
    * languages) cross-joined as 1-row sides; every float path runs
    * through the decimal-sum + floor-round policy, the entropy ln is the
    * d08-proven portable transcendental. At 100 TB this is three
    * map-side-combined scans and nothing else. */
  def d22DatasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).filter(length($"text") > 0)
    val tok = docs
      .select(size(toks($"text")).as("nt"), TextOps.qualityCol.as("q"))
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"),
        ravg($"nt".cast("double"), 2).as("avg_doc_tokens"),
        ravg($"q", 6).as("avg_quality"))
    val dup = docs
      .select(TextOps.normFp($"text").as("fp"))
      .groupBy($"fp").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_distinct_docs"))
    val lang = docs.groupBy($"lang").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .agg(dsum(-($"c".cast("double") / $"n") *
        log($"c".cast("double") / $"n")).as("ent"))
      .select(r($"ent", 6).as("lang_entropy"))
    tok.crossJoin(broadcast(dup)).crossJoin(broadcast(lang))
      .select($"n_docs", $"n_tokens", $"avg_doc_tokens",
        r(lit(1.0) - $"n_distinct_docs".cast("double") / $"n_docs", 6).as("dup_ratio"),
        $"lang_entropy", $"avg_quality")
  }

  val d22Sql: String =
    s"""WITH d AS (SELECT * FROM documents WHERE length(text) > 0),
       tok AS (SELECT count(*) AS n_docs,
           CAST(sum(len(${toksSql("text")})) AS BIGINT) AS n_tokens,
           ${ravgSql(s"CAST(len(${toksSql("text")}) AS DOUBLE)", 2)} AS avg_doc_tokens,
           ${ravgSql(TextOps.qualitySql, 6)} AS avg_quality
         FROM d),
       dup AS (SELECT count(*) AS n_distinct_docs FROM (
           SELECT ${TextOps.normFpSql("text")} AS fp FROM d GROUP BY 1) z),
       lang AS (SELECT ${rSql(dsumSql("-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)"), 6)} AS lang_entropy
         FROM (SELECT lang, count(*) AS c FROM d GROUP BY lang) lc
         CROSS JOIN (SELECT count(*) AS n FROM d) t)
       SELECT n_docs, n_tokens, avg_doc_tokens,
         ${rSql("1.0 - CAST(n_distinct_docs AS DOUBLE) / n_docs", 6)} AS dup_ratio,
         lang_entropy, avg_quality
       FROM tok CROSS JOIN dup CROSS JOIN lang"""

  // --- d23: the curation pipeline composed end-to-end --------------------

  /** d23 — the new-family composition, d13's sibling: PII scrub (d17's
    * plant-then-scrub, so the scrubber is provably in the path) →
    * benchmark decontamination (d16's gate at n=5; benchmark members
    * themselves excluded from training) → repetition gate (d18's
    * rounded-ratio rules) → target-mixture resampling over the SURVIVORS
    * (d19's BIGINT rates) → fixed-budget sequence packing (d20) — one
    * oracle-checked query emitting the packed training sequences of the
    * curated, rebalanced corpus. Every stage is the SHARED builder the
    * standalone query uses ([[contamHits]], [[repetitionStats]],
    * [[mixRates]], [[packSequences]]), so the composition inherits their
    * semantics and scale stories by construction. The tokenized-clean-
    * corpus cache feeds every stage.
    *
    * Why n=5 grams (vs d16's trigrams): on this ~30-word vocabulary the
    * trigram space saturates as the benchmark grows (measured at sf0.1:
    * 98 % of the corpus falsely flagged) — exactly why production
    * decontamination uses long n-grams; 5-grams keep the false-hit rate
    * negligible at every test scale. */
  def d23CurationPacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = Tables.documents(s, dir)
      .filter(length($"text") > 0)
      .select($"doc_id", $"lang", $"source", dirtyCol.as("dirty"))
      .select($"doc_id", $"lang", $"source", toks(lower(cleanCol($"dirty"))).as("tk"))
      .cache() // feeds decontamination (both sides), repetition, mix, pack
    val decontam = contamHits(s, tk.select($"doc_id", gramsCol(5).as("gs")))
      .filter(contamRatioCol < ContamThreshold)
      .select($"doc_id")
    val calm = repetitionStats(s, tk.select($"doc_id", $"tk"))
      .filter(!repetitiveGate(
        r($"top_cnt".cast("double") / $"n_tokens", 6), $"dup_bigram_ratio"))
      .select($"doc_id")
    val surv = tk
      .join(decontam, Seq("doc_id"), "left_semi")
      .join(calm, Seq("doc_id"), "left_semi")
    val mixed = surv.join(broadcast(mixRates(s, surv)), $"source" === $"src")
      .filter(mixAccept)
    packSequences(s, mixed
      .select($"doc_id", $"lang", size($"tk").as("n_tok")))
  }

  val d23Sql: String =
    s"""WITH d0 AS (SELECT doc_id, lang, source, $dirtySql AS dirty
       FROM documents WHERE length(text) > 0),
       tk0 AS (SELECT doc_id, lang, source,
         ${toksSql(s"lower(${cleanSql("dirty")})")} AS tk,
         ${lcgSql("doc_id", 37L)} AS lcg37
       FROM d0),
       g0 AS (SELECT doc_id, lcg37, ${gramsSql(5)} AS gs FROM tk0),
       ${contamCtesSql("g0", "lcg37")},
       keep1 AS (SELECT g0.doc_id FROM g0 LEFT JOIN hits h ON g0.doc_id = h.doc_id
                 WHERE lcg37 >= $BenchPermille
                   AND (${contamRatioSql("len(g0.gs)", "h.n_hits")}) < $ContamThreshold),
       ${repetitionCtesSql("tk0")},
       keep2 AS (SELECT doc_id FROM cnt GROUP BY doc_id, n_tokens, dup_bigram_ratio
                 HAVING NOT (${repetitiveGateSql(rSql("max(c) / n_tokens", 6), "dup_bigram_ratio")})),
       surv AS (SELECT tk0.* FROM tk0
                JOIN keep1 ON tk0.doc_id = keep1.doc_id
                JOIN keep2 ON tk0.doc_id = keep2.doc_id),
       ${mixRatesCtesSql("surv")},
       mixed AS (SELECT doc_id, lang, len(tk) AS n_tok
                 FROM surv JOIN rates ON surv.source = rates.src
                 WHERE ${lcgSql("doc_id", 101L)} < permille),
       ${packSelectSql("mixed")}"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d23_curation_packing" -> (d23CurationPacking _),
    "d22_dataset_card" -> (d22DatasetCard _),
    "d16_decontaminate" -> (d16Decontaminate _),
    "d35_split_leakage" -> (d35SplitLeakage _),
    "d46_source_overlap" -> (d46SourceOverlap _),
    "ml19_psi_drift" -> (ml19PsiDrift _),
    "ml20_info_gain" -> (ml20InfoGain _),
    "s06_time_split" -> (s06TimeSplit _),
    "s08_purged_kfold" -> (s08PurgedKfold _),
    "d39_novelty" -> (d39Novelty _),
    "d17_pii_scrub" -> (d17PiiScrub _),
    "d18_repetition_filter" -> (d18RepetitionFilter _),
    "d19_domain_mix" -> (d19DomainMix _),
    "d29_temperature_mix" -> (d29TemperatureMix _),
    "d20_seq_packing" -> (d20SeqPacking _))

  val oracles: Map[String, String] = Map(
    "d23_curation_packing" -> d23Sql,
    "d22_dataset_card" -> d22Sql,
    "d16_decontaminate" -> d16Sql,
    "d35_split_leakage" -> d35Sql,
    "d46_source_overlap" -> d46Sql,
    "ml19_psi_drift" -> ml19Sql,
    "ml20_info_gain" -> ml20Sql,
    "s06_time_split" -> s06Sql,
    "s08_purged_kfold" -> s08Sql,
    "d39_novelty" -> d39Sql,
    "d17_pii_scrub" -> d17Sql,
    "d18_repetition_filter" -> d18Sql,
    "d19_domain_mix" -> d19Sql,
    "d29_temperature_mix" -> d29Sql,
    "d20_seq_packing" -> d20Sql)
}
