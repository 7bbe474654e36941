package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Num._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface mandated by BASELINE.json beyond the
  * reference's own operators (SURVEY.md §2.4 north-star row): token
  * counting, quality scoring, language-ID heuristic, exact/normalized
  * dedup, n-gram Jaccard near-dup, document fingerprinting.
  *
  * All queries are scan-local per-document expression pipelines (zero
  * shuffles except final aggregations/joins), codegen-friendly (higher-order
  * array functions, no UDFs). At 100 TB each parallelizes embarrassingly;
  * the only quadratic operator (d05 pairwise Jaccard) is blocked on `lang`
  * — its scale path is MinHash LSH in [[DedupLsh]].
  *
  * Tokenization contract (shared by every operator and its oracle):
  * whitespace-split of trimmed text, empty tokens dropped.
  */
object TextOps {

  /** tokens as a Column (Spark side). */
  private[graft] def toks(c: Column): Column =
    // r15 perf: `filter(..., t => t =!= "")` is an interpreted HOF — one
    // boxed lambda call per token on every tokenize site in the engine
    // (profiled as the dominant per-task cost of the ml05/ml07 tokenize
    // stages). array_remove(arr, "") removes exactly the same elements
    // (every "" entry, order preserved — split never yields nulls) and
    // is codegen'd. Values identical; toksSql unchanged.
    array_remove(split(trim(c), "\\s+"), "")

  /** DuckDB equivalent of [[toks]]. */
  private[operators] def toksSql(e: String): String =
    s"list_filter(string_split_regex(trim($e), '\\s+'), t -> t != '')"

  /** d01 — token statistics: token count, char count, avg token length. */
  def d01TokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"n_chars",
        size(toks($"text")).as("n_tokens"),
        length($"text").as("len_chars"),
        aggregate(toks($"text"), lit(0L), (a, t) => a + length(t)).as("sum_tok_len"))
      .withColumn("avg_tok_len",
        when($"n_tokens" > 0, r($"sum_tok_len".cast("double") / $"n_tokens", 4)).otherwise(lit(0.0)))
      .orderBy($"doc_id")
  }

  val d01Sql: String = {
    val t = toksSql("text")
    s"""SELECT doc_id, lang, n_chars,
       len($t) AS n_tokens,
       length(text) AS len_chars,
       CAST(list_sum(list_transform($t, t -> length(t))) AS BIGINT) AS sum_tok_len,
       CASE WHEN len($t) > 0
            THEN ${rSql(s"CAST(list_sum(list_transform($t, t -> length(t))) AS BIGINT) / len($t)", 4)}
            ELSE 0.0 END AS avg_tok_len
       FROM documents
       ORDER BY doc_id"""
  }

  /** rounded character-class ratio of col("text") — shared by d02 and the
    * d13 curation pipeline. */
  private def charRatio(pattern: String): Column = {
    val len = length(col("text"))
    r((len - length(regexp_replace(col("text"), pattern, ""))).cast("double") / len, 6)
  }

  private def charRatioSql(p: String): String =
    rSql(s"((length(text) - length(regexp_replace(text, '$p', '', 'g'))) / length(text))", 6)

  /** rounded en-stopword token ratio of col("text"). */
  private def stopwordRatio: Column =
    r(size(filter(toks(lower(col("text"))),
      t => t.isin("the", "and", "of", "to", "a"))).cast("double") /
      size(toks(col("text"))), 6)

  private def stopwordRatioSql: String =
    rSql(s"(len(list_filter(${toksSql("lower(text)")}, t -> t IN ('the','and','of','to','a'))) / len(${toksSql("text")}))", 6)

  /** the d02 composite quality score of col("text") (rounded ratios in,
    * rounded score out) — the filter key of the d13 curation pipeline. */
  private[operators] def qualityCol: Column =
    r(lit(0.5) * stopwordRatio
      + lit(0.25) * (lit(1.0) - charRatio("[.,!?;:]"))
      + lit(0.25) * (lit(1.0) - charRatio("[0-9]")), 6)

  private[operators] def qualitySql: String =
    rSql(s"0.5 * $stopwordRatioSql + 0.25 * (1.0 - ${charRatioSql("[.,!?;:]")}) + 0.25 * (1.0 - ${charRatioSql("[0-9]")})", 6)

  /** d02 — quality scoring: punctuation / digit / uppercase / stopword
    * ratios combined into a deterministic [0,1] score (the length-punct-
    * stopword heuristic family used for LLM corpus filtering). */
  def d02QualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(length($"text") > 0)
      .select($"doc_id",
        charRatio("[.,!?;:]").as("punct_ratio"),
        charRatio("[0-9]").as("digit_ratio"),
        charRatio("[A-Z]").as("upper_ratio"),
        stopwordRatio.as("stopword_ratio"),
        qualityCol.as("quality"))
      .orderBy($"doc_id")
  }

  val d02Sql: String =
    s"""SELECT doc_id,
       ${charRatioSql("[.,!?;:]")} AS punct_ratio,
       ${charRatioSql("[0-9]")} AS digit_ratio,
       ${charRatioSql("[A-Z]")} AS upper_ratio,
       $stopwordRatioSql AS stopword_ratio,
       $qualitySql AS quality
       FROM documents
       WHERE length(text) > 0
       ORDER BY doc_id"""

  private val stopLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** d03 — language-ID heuristic: stopword-hit counts per candidate
    * language, argmax with a fixed preference order (en>es>de>fr>zh) for
    * determinism; compared against the labeled `lang`. */
  def d03LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val low = toks(lower($"text"))
    val scored = Tables.documents(s, dir).select(
      $"doc_id" +: $"lang".as("actual_lang") +:
        stopLists.map { case (l, ws) =>
          size(filter(low, t => t.isin(ws: _*))).as(s"s_$l")
        }: _*)
    val Seq(en, es, de, fr, zh) = stopLists.map(p => col(s"s_${p._1}"))
    scored
      .withColumn("predicted_lang",
        when(en >= greatest(es, de, fr, zh), "en")
          .when(es >= greatest(de, fr, zh), "es")
          .when(de >= greatest(fr, zh), "de")
          .when(fr >= zh, "fr")
          .otherwise("zh"))
      .withColumn("correct", ($"predicted_lang" === $"actual_lang").cast("int"))
      .orderBy($"doc_id")
  }

  val d03Sql: String = {
    val low = toksSql("lower(text)")
    val scores = stopLists.map { case (l, ws) =>
      s"len(list_filter($low, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$l"
    }.mkString(",\n       ")
    s"""SELECT doc_id, actual_lang, s_en, s_es, s_de, s_fr, s_zh,
       CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
            WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
            WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS predicted_lang,
       CAST((CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
            WHEN s_es >= greatest(s_de, s_fr, s_zh) THEN 'es'
            WHEN s_de >= greatest(s_fr, s_zh) THEN 'de'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END) = actual_lang AS INTEGER) AS correct
       FROM (SELECT doc_id, lang AS actual_lang,
       $scores
       FROM documents) t
       ORDER BY doc_id"""
  }

  /** normalized-text fingerprint shared by d04/d06 (and the streaming
    * dedup twin in StreamOps). */
  private[graft] def normFp(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  private[operators] def normFpSql(e: String): String =
    s"md5(regexp_replace(lower(trim($e)), '\\s+', ' ', 'g'))"

  /** d04 — exact (normalized) deduplication: hash-groupBy on the
    * fingerprint, keep the lowest doc_id as representative. The single
    * shuffle is on the 32-hex-char hash — uniformly distributed, no skew,
    * scales linearly. */
  /** d04's core on an arbitrary (doc_id, text) corpus — shared with the
    * streaming replay differential so the batch and stream twins cannot
    * drift. */
  private[graft] def dedupCore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normFp(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("kept_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("kept_doc_id"))

  def d04ExactDedup(s: SparkSession, dir: String): DataFrame =
    dedupCore(Tables.documents(s, dir))

  val d04Sql: String =
    s"""SELECT fp, min(doc_id) AS kept_doc_id, count(*) AS n_copies
       FROM (SELECT doc_id, ${normFpSql("text")} AS fp FROM documents) t
       GROUP BY fp
       ORDER BY kept_doc_id"""

  /** d48 — dedup impact by source: which ingestion feeds lose how much
    * to d04's exact dedup (survivor = min-doc_id of the fingerprint
    * group, d04's rule — a doc "survives" only if it IS its group's
    * representative, so a feed that re-crawls content first published
    * elsewhere loses everything). Per source: doc count, survivors,
    * removals, characters reclaimed, removal share — the attribution
    * report next to d04's group table (x05 reports reclaimable bytes
    * globally; d48 says WHO to bill). d46's containment matrix predicts
    * this; d48 measures it.
    *
    * Scale shape: d04's single uniform fingerprint shuffle, one winner
    * join back on the same key, one source-keyed rollup. */
  def d48DedupImpact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupImpact(Tables.documents(s, dir)
      .select($"doc_id", coalesce($"source", lit("")).as("source"),
        $"n_chars".cast("long").as("n_chars"), $"text"))
  }

  /** d48's core over (doc_id, source, n_chars, text) — exposed for the
    * planted cross-source-dup spec. */
  private[graft] def dedupImpact(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val d = docs.select($"doc_id", $"source", $"n_chars",
      normFp($"text").as("fp"))
    val w = d.groupBy($"fp").agg(min($"doc_id").as("wid"))
    d.join(w, "fp")
      .withColumn("kept", ($"doc_id" === $"wid").cast("int"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"kept").cast("long").as("n_kept"),
        (count(lit(1)) - sum($"kept")).cast("long").as("n_removed"),
        sum(when($"kept" === 0, $"n_chars").otherwise(lit(0L)))
          .cast("long").as("chars_removed"))
      .withColumn("removed_share",
        r($"n_removed".cast("double") / $"n_docs".cast("double"), 6))
      .orderBy($"source")
  }

  val d48Sql: String =
    s"""WITH d AS (SELECT doc_id, coalesce(source, '') AS source,
         CAST(n_chars AS BIGINT) AS n_chars, ${normFpSql("text")} AS fp
       FROM documents),
       w AS (SELECT fp, min(doc_id) AS wid FROM d GROUP BY fp),
       j AS (SELECT d.source, d.n_chars,
           CASE WHEN d.doc_id = w.wid THEN 1 ELSE 0 END AS kept
         FROM d JOIN w USING (fp))
       SELECT source, count(*) AS n_docs,
         CAST(sum(kept) AS BIGINT) AS n_kept,
         CAST(count(*) - sum(kept) AS BIGINT) AS n_removed,
         CAST(sum(CASE WHEN kept = 0 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed,
         ${rSql("CAST(count(*) - sum(kept) AS BIGINT) / CAST(count(*) AS DOUBLE)", 6)} AS removed_share
       FROM j GROUP BY source ORDER BY source"""

  /** d49 — INCREMENTAL dedup: the daily-ingestion shape d04 doesn't
    * cover — dedup an incoming batch (h60 deciles 8–9, ~20 % of the
    * corpus standing in for "today's crawl") against BOTH the existing
    * corpus's fingerprint store (deciles 0–7) and itself. Per incoming
    * doc: kept flag and verdict ('new' / 'dup_of_corpus' /
    * 'dup_in_batch' — corpus membership wins, then d04's min-doc_id rule
    * within the batch). This is the steady-state production plan: the
    * historical side reduces to DISTINCT fingerprints (the store you
    * actually persist), the batch joins it on the uniform 32-hex key,
    * and nothing ever re-scans old text.
    *
    * Scale shape: one distinct-shuffle over the store fingerprints, one
    * batch-sized left join + min-id aggregate on the same key. */
  def d49IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
      .select($"doc_id", $"h", normFp($"text").as("fp"))
    val store = d.filter($"h" <= 7).select($"fp".as("sfp")).distinct()
    val batch = d.filter($"h" >= 8).select($"doc_id", $"fp")
    val wmin = batch.groupBy($"fp").agg(min($"doc_id").as("wid"))
    batch
      .join(store, $"fp" === $"sfp", "left")
      .join(wmin, "fp")
      .select($"doc_id",
        when($"sfp".isNotNull, "dup_of_corpus")
          .when($"doc_id" =!= $"wid", "dup_in_batch")
          .otherwise("new").as("verdict"))
      .withColumn("kept", ($"verdict" === "new").cast("int"))
      .orderBy($"doc_id")
  }

  val d49Sql: String =
    s"""WITH d AS (SELECT doc_id,
         ${DedupLsh.h60Sql("doc_id::VARCHAR")} % 10 AS h,
         ${normFpSql("text")} AS fp
       FROM documents),
       store AS (SELECT DISTINCT fp AS sfp FROM d WHERE h <= 7),
       batch AS (SELECT doc_id, fp FROM d WHERE h >= 8),
       wmin AS (SELECT fp, min(doc_id) AS wid FROM batch GROUP BY fp)
       SELECT b.doc_id,
         CASE WHEN s.sfp IS NOT NULL THEN 'dup_of_corpus'
              WHEN b.doc_id != w.wid THEN 'dup_in_batch'
              ELSE 'new' END AS verdict,
         CAST((CASE WHEN s.sfp IS NOT NULL THEN 'dup_of_corpus'
              WHEN b.doc_id != w.wid THEN 'dup_in_batch'
              ELSE 'new' END) = 'new' AS INTEGER) AS kept
       FROM batch b LEFT JOIN store s ON b.fp = s.sfp
       JOIN wmin w ON w.fp = b.fp
       ORDER BY b.doc_id"""

  /** d58 — d49's incremental dedup DRIVEN BY THE LAKE CHANGE FEED: the
    * historical corpus's fingerprints land in a versioned lake table
    * (version 1), today's crawl is appended (version 2), and the dedup
    * batch is discovered through [[graft.sources.LakeVersions.changes]]
    * (the insert leg of v1→v2) while the store side reads the v1
    * SNAPSHOT — the steady-state training-data refresh: no directory
    * diffing, no re-scan of history, the version log IS the ingestion
    * queue. Verdicts must hash-equal d49's pure-SQL recount of the same
    * split (the oracle never sees the lake — the feed's correctness is
    * what's being proven).
    *
    * Scale shape: the CDF is a driver-side set difference of two
    * recorded name lists; the consumer reads O(changed files) + one
    * distinct over the persisted fingerprint store. */
  def d58CdfDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lakeRoot = TempLakes.catalog(s, "d58")
    val d = Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
      .select($"doc_id", $"h", normFp($"text").as("fp"))
    d.filter($"h" <= 7).select($"doc_id", $"fp")
      .writeTo("graft_d58.lake.d58").create() // v1: the historical store
    d.filter($"h" >= 8).select($"doc_id", $"fp")
      .writeTo("graft_d58.lake.d58").append() // v2: today's crawl
    val batch = graft.sources.LakeVersions.changes(s, s"$lakeRoot/d58", 1L, 2L)
      .filter($"_change_type" === "insert").select($"doc_id", $"fp")
    val store = s.sql("SELECT fp FROM graft_d58.lake.d58 VERSION AS OF 1")
      .select($"fp".as("sfp")).distinct()
    val wmin = batch.groupBy($"fp").agg(min($"doc_id").as("wid"))
    batch
      .join(store, $"fp" === $"sfp", "left")
      .join(wmin, "fp")
      .select($"doc_id",
        when($"sfp".isNotNull, "dup_of_corpus")
          .when($"doc_id" =!= $"wid", "dup_in_batch")
          .otherwise("new").as("verdict"))
      .withColumn("kept", ($"verdict" === "new").cast("int"))
      .orderBy($"doc_id")
  }

  /** Identical text to [[d49Sql]]: the oracle recomputes the split in
    * pure SQL — the lake feed must reproduce it bit-for-bit. */
  val d58Sql: String = d49Sql

  /** The portable 60-bit hash as Spark EXPRESSION TEXT (for scan-local
    * array lambdas where a Column can't reach) — semantically
    * [[DedupLsh.h60]]; its DuckDB twin is [[DedupLsh.h60Sql]]. One
    * definition so the gram-key arithmetic cannot drift between the
    * operators that share it (d59, d60). */
  private def h60ExprSql(e: String): String =
    s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** d59 winnowing parameters: k-token grams, window w (guarantee t =
    * w + k − 1 tokens), and the boilerplate cap on docs-per-fingerprint.
    * Defined above the vals that interpolate them (object-init order). */
  private val WinK = 3
  private val WinW = 4
  private val WinFpCap = 64

  /** d59 — WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken
    * 2003 — the MOSS algorithm): hash every [[WinK]]-token gram, slide a
    * [[WinW]]-window over the hash sequence and keep each window's
    * MINIMUM — the selected fingerprints guarantee any shared run of
    * ≥ w+k−1 tokens is detected while keeping ~2/(w+1) of the grams,
    * position-robust where d06's single rolling hash and x06's CDC
    * chunks are content-global. Docs with fewer than w grams keep all
    * their gram hashes (the degenerate-window rule, documented). Output:
    * the top-50 document pairs by winnowed-set Jaccard among pairs
    * sharing ≥ 2 fingerprints — fingerprints shared by more than
    * [[WinFpCap]] docs are dropped first (boilerplate furniture, the
    * m01/x10 cap pattern: quadratic fan-out stays bounded under
    * corpus-spanning cliques).
    *
    * Scale shape: gram hashing and window minima are SCAN-LOCAL array
    * lambdas (zero shuffles until the pair join); the join fans out at
    * most cap² per fingerprint. */
  /** d59's fingerprint selection over a (doc_id, text) frame — exposed
    * so the spec can pin the winnowing GUARANTEE (a shared token run of
    * ≥ w+k−1 tokens shares ≥ 1 fingerprint) on planted docs. */
  private[graft] def winnowFps(docs: DataFrame): DataFrame = {
    val h = (e: String) => h60ExprSql(e)
    val cat = (0 until WinK).map(j => s"element_at(tk, i + ${j + 1})")
      .mkString(", ' ', ")
    docs
      .withColumn("tk", toks(lower(col("text"))))
      .withColumn("g", when(size(col("tk")) >= WinK, expr(
        s"transform(sequence(0, size(tk) - $WinK), i -> ${h(s"concat($cat)")})"))
        .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("fps", when(size(col("g")) >= WinW, expr(
        s"""array_distinct(transform(sequence(0, size(g) - $WinW),
            i -> array_min(transform(sequence(0, ${WinW - 1}),
                             j -> element_at(g, i + j + 1)))))"""))
        .otherwise(array_distinct(col("g"))))
      .select(col("doc_id"), col("fps"))
  }

  def d59Winnowing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = winnowFps(Tables.documents(s, dir).select($"doc_id", $"text"))
      .localCheckpoint(true) // the lambda work feeds 3 consumers below
    val nf = f.select($"doc_id", size($"fps").as("n_fps"))
    val e = f.select($"doc_id", explode($"fps").as("fp"))
    val keep = e.groupBy($"fp").agg(count(lit(1)).as("nd"))
      .filter($"nd".between(2, WinFpCap)).select($"fp")
    val ek = e.join(keep, Seq("fp"), "left_semi")
      .localCheckpoint(true) // both sides of the pair self-join (invariant 5)
    val pairs = ek.select($"fp", $"doc_id".as("doc_a"))
      .join(ek.select($"fp".as("fp2"), $"doc_id".as("doc_b")),
        $"fp" === $"fp2" && $"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 2)
    pairs
      .join(nf.select($"doc_id".as("doc_a"), $"n_fps".as("na")), Seq("doc_a"))
      .join(nf.select($"doc_id".as("doc_b"), $"n_fps".as("nb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"n_shared",
        r($"n_shared".cast("double") / ($"na" + $"nb" - $"n_shared"), 6)
          .as("win_jaccard"))
      .orderBy(desc_nulls_last("win_jaccard"), $"doc_a", $"doc_b")
      .limit(50)
  }

  lazy val d59Sql: String = {
    val cat = (0 until WinK).map(j => s"tk[i + ${j + 1}]").mkString(" || ' ' || ")
    s"""WITH d AS (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents),
       g0 AS MATERIALIZED (SELECT doc_id,
         CASE WHEN len(tk) >= $WinK
           THEN list_transform(range(0, len(tk) - ${WinK - 1}),
                  i -> ${DedupLsh.h60Sql(s"($cat)")})
           ELSE CAST([] AS BIGINT[]) END AS g
       FROM d),
       f AS MATERIALIZED (SELECT doc_id,
         CASE WHEN len(g) >= $WinW
           THEN list_distinct(list_transform(range(0, len(g) - ${WinW - 1}),
                  i -> list_min(list_transform(range(0, $WinW),
                         j -> g[i + j + 1]))))
           ELSE list_distinct(g) END AS fps
       FROM g0),
       nf AS (SELECT doc_id, len(fps) AS n_fps FROM f),
       e AS MATERIALIZED (SELECT doc_id, unnest(fps) AS fp FROM f),
       keep AS (SELECT fp FROM e GROUP BY fp
         HAVING count(*) BETWEEN 2 AND $WinFpCap),
       ek AS MATERIALIZED (SELECT e.doc_id, e.fp FROM e JOIN keep USING (fp)),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
         FROM ek a JOIN ek b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2)
       SELECT doc_a, doc_b, n_shared,
         ${rSql("CAST(n_shared AS DOUBLE) / (na.n_fps + nb.n_fps - n_shared)", 6)}
           AS win_jaccard
       FROM p JOIN nf na ON na.doc_id = p.doc_a
         JOIN nf nb ON nb.doc_id = p.doc_b
       ORDER BY win_jaccard DESC NULLS LAST, doc_a, doc_b
       LIMIT 50"""
  }

  /** d60's minimum repeated-substring length in TOKENS (the Lee et al.
    * 2021 ExactSubstr threshold, scaled to this corpus' short docs; the
    * paper uses 50 BPE tokens on web-scale text). Defined above the SQL
    * val that interpolates it (object-init order). */
  private val SubK = 8

  /** d60 — EXACT-SUBSTRING REMOVAL (Lee et al. 2021, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr transformation itself): every document is rewritten
    * with its cross-document repeated token runs of length ≥ [[SubK]]
    * CUT OUT — the find-and-remove pass the paper applies before
    * training, completing the family d28 REPORTS on (d28 measures the
    * duplicated coverage; d60 produces the cleaned corpus). A run of
    * ≥ k tokens repeats across docs iff one of its k-grams does, so:
    * hash every k-gram (the d59 scan-local array-lambda construction),
    * keep grams seen in ≥ 2 DISTINCT docs, merge each doc's covered
    * positions into maximal spans (gaps-and-islands, the t26 pattern),
    * and rebuild the text from the surviving positions (the removal
    * operates on the normalized lowercase token stream — the same
    * stream the detection matched on). Output per doc: token count,
    * removed-token count, and the cleaned text.
    *
    * Scale shape: gram hashing is scan-local; ONE uniform gram-keyed
    * aggregate + ONE semi-join back + per-doc windows + ONE positional
    * anti-join — NO pair join anywhere, so corpus-spanning duplicate
    * cliques cost linear work, not quadratic (measured skew slope
    * < 1; per-doc spans are exactly the paper's removal granularity). */
  def d60ExactSubstrings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    exactSubstrRemove(Tables.documents(s, dir).select($"doc_id", $"text"))
  }

  /** d60's core over a (doc_id, text) frame — exposed so the spec can
    * pin the removal algebra on planted shared runs (a shared 12-token
    * run vanishes from both docs; disjoint 8-runs both vanish leaving
    * the separator; a SubK−1 run survives untouched). */
  private[graft] def exactSubstrRemove(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val h = (e: String) => h60ExprSql(e)
    val cat = (0 until SubK).map(j => s"element_at(tk, i + ${j + 1})")
      .mkString(", ' ', ")
    val base = docs
      .withColumn("tk", toks(lower($"text")))
      .select($"doc_id", $"tk", size($"tk").as("n_tokens"),
        when(size($"tk") >= SubK, expr(
          s"transform(sequence(0, size(tk) - $SubK), i -> ${h(s"concat($cat)")})"))
          .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)")).as("g"))
      .localCheckpoint(true) // gram lambdas feed three consumers (invariant 5)
    val e = base.select($"doc_id", posexplode($"g"))
      .select($"doc_id", ($"pos" + 1).as("p"), $"col".as("gh"))
    val rep = e.groupBy($"gh").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"gh")
    val cov = e.join(rep, Seq("gh"), "left_semi")
      .select($"doc_id", $"p", ($"p" + lit(SubK - 1)).as("en"))
    val wPrev = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, 0)
    val spans = cov
      .withColumn("pm", max($"en").over(wPrev))
      .withColumn("brk", when($"pm".isNull || $"p" > $"pm" + 1, 1).otherwise(0))
      .withColumn("iid", sum($"brk").over(wRun))
      .groupBy($"doc_id", $"iid").agg(min($"p").as("sp"), max($"en").as("ep"))
    // the cut: every position inside a span is removed; the cleaned text
    // is the ordered concatenation of the survivors
    val removed = spans.select($"doc_id",
      explode(expr("sequence(sp, ep)")).as("p"))
    val kept = base.select($"doc_id", posexplode($"tk"))
      .select($"doc_id", ($"pos" + 1).as("p"), $"col".as("tok"))
      .join(removed, Seq("doc_id", "p"), "left_anti")
    val clean = kept.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        collect_list(struct($"p", $"tok")).as("lst"))
      .select($"doc_id", $"n_kept",
        expr("array_join(transform(array_sort(lst), x -> x.tok), ' ')")
          .as("clean_text"))
    base.select($"doc_id", $"n_tokens")
      .join(clean, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        ($"n_tokens" - coalesce($"n_kept", lit(0L))).as("n_removed"),
        coalesce($"clean_text", lit("")).as("clean_text"))
      .orderBy($"doc_id")
  }

  lazy val d60Sql: String = {
    val cat = (0 until SubK).map(j => s"tk[i + ${j + 1}]").mkString(" || ' ' || ")
    s"""WITH d AS (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents),
       b AS MATERIALIZED (SELECT doc_id, tk, len(tk) AS n_tokens,
         CASE WHEN len(tk) >= $SubK
           THEN list_transform(range(0, len(tk) - ${SubK - 1}),
                  i -> ${DedupLsh.h60Sql(s"($cat)")})
           ELSE CAST([] AS BIGINT[]) END AS g
       FROM d),
       e2 AS MATERIALIZED (SELECT doc_id,
         unnest(generate_series(1, len(g))) AS p, unnest(g) AS gh
       FROM b WHERE len(g) > 0),
       rep AS (SELECT gh FROM e2 GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
       cov AS (SELECT doc_id, p, p + ${SubK - 1} AS en FROM e2 JOIN rep USING (gh)),
       isl AS (SELECT doc_id, p, en,
         CASE WHEN p > coalesce(max(en) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000) + 1
           THEN 1 ELSE 0 END AS brk
       FROM cov),
       isl2 AS (SELECT doc_id, p, en, sum(brk) OVER (PARTITION BY doc_id
           ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
       FROM isl),
       spans AS (SELECT doc_id, iid, min(p) AS sp, max(en) AS ep
       FROM isl2 GROUP BY doc_id, iid),
       rem AS (SELECT doc_id, unnest(generate_series(sp, ep)) AS p FROM spans),
       pos AS (SELECT doc_id, unnest(generate_series(1, n_tokens)) AS p,
         unnest(tk) AS tok
       FROM b WHERE n_tokens > 0),
       kept AS (SELECT pos.doc_id, pos.p, pos.tok
       FROM pos ANTI JOIN rem USING (doc_id, p)),
       ca AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS clean_text
       FROM kept GROUP BY doc_id)
       SELECT b.doc_id, n_tokens,
         n_tokens - coalesce(n_kept, 0) AS n_removed,
         coalesce(clean_text, '') AS clean_text
       FROM b LEFT JOIN ca ON ca.doc_id = b.doc_id
       ORDER BY b.doc_id"""
  }

  /** d50's boilerplate threshold: a sentence-level unit repeated in at
    * least this many DISTINCT docs of one source is boilerplate. */
  private val BoilerK = 3

  /** d50 — boilerplate detection (CCNet/C4's paragraph-level cleaning
    * concern at sentence granularity): a sentence fingerprint recurring
    * in ≥ [[BoilerK]] distinct docs of the SAME source is boilerplate
    * (header/footer/cookie-banner text the whole-doc dedups d04/d11
    * can't see — the docs differ, their furniture doesn't). Per source:
    * unit count, boilerplate instances, distinct boilerplate units, and
    * the share of units that are furniture — the number that decides
    * whether a feed needs paragraph-level scrubbing before training.
    *
    * Scale shape: one sentence explode (scan-local), one distinct +
    * count on the uniform (source, fp) key, one join back on the same
    * key, one source rollup. No text is ever pairwise-compared. */
  def d50Boilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    boilerplate(Tables.documents(s, dir)
      .select($"doc_id", coalesce($"source", lit("")).as("source"), $"text"))
  }

  /** d50's core over (doc_id, source, text) — exposed for the planted
    * shared-footer spec. */
  private[graft] def boilerplate(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val units = docs
      .select($"doc_id", $"source", explode(split($"text", "[.!?]")).as("s0"))
      .select($"doc_id", $"source", trim($"s0").as("sent"))
      .filter(length($"sent") >= 20)
      .select($"doc_id", $"source", md5(lower($"sent")).as("fp"))
      .cache() // feeds the repetition table and the rollup
    val rep = units.select($"source", $"fp", $"doc_id").distinct()
      .groupBy($"source", $"fp").agg(count(lit(1)).as("nd"))
      .filter($"nd" >= BoilerK)
      .select($"source", $"fp", lit(1).as("bf"))
    units.join(rep, Seq("source", "fp"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_units"),
        sum(coalesce($"bf", lit(0))).cast("long").as("n_boiler_units"),
        countDistinct(when($"bf".isNotNull, $"fp")).as("n_boiler_fps"))
      .withColumn("boiler_share",
        r($"n_boiler_units".cast("double") / $"n_units".cast("double"), 6))
      .orderBy($"source")
  }

  val d50Sql: String =
    s"""WITH u AS MATERIALIZED (SELECT doc_id, source, md5(lower(sent)) AS fp FROM (
         SELECT doc_id, coalesce(source, '') AS source,
           trim(unnest(string_split_regex(text, '[.!?]'))) AS sent
         FROM documents) z
       WHERE length(sent) >= 20),
       rep AS (SELECT source, fp, 1 AS bf FROM (
           SELECT source, fp, count(*) AS nd FROM
             (SELECT DISTINCT source, fp, doc_id FROM u) d
           GROUP BY source, fp) c
         WHERE nd >= $BoilerK)
       SELECT u.source, count(*) AS n_units,
         CAST(sum(coalesce(bf, 0)) AS BIGINT) AS n_boiler_units,
         CAST(count(DISTINCT CASE WHEN bf IS NOT NULL THEN u.fp END) AS BIGINT) AS n_boiler_fps,
         ${rSql("CAST(sum(coalesce(bf, 0)) AS BIGINT) / CAST(count(*) AS DOUBLE)", 6)} AS boiler_share
       FROM u LEFT JOIN rep ON rep.source = u.source AND rep.fp = u.fp
       GROUP BY u.source ORDER BY u.source"""

  /** d54's neighborhood width: each doc compares to its [[SnmW]] sort
    * successors. */
  private val SnmW = 3

  /** d54 — sorted-neighborhood (SNM) near-dup pairs (Hernández & Stolfo
    * 1995, the pre-LSH dedup standard and still the complementary pass:
    * SNM's sort key clusters docs that share PREFIXES — a doc edited
    * anywhere after its opening lands adjacent, however low its shingle
    * Jaccard bands score — while LSH is prefix-blind): sort key = the
    * normalized 40-char prefix, docs sorted within 2-char-prefix blocks,
    * each doc paired with its [[SnmW]] sort successors, candidates
    * exact-verified with d05's token-set Jaccard ≥ 0.5; top-500
    * total-order ranked. Candidate count is ≤ W·n by construction —
    * never quadratic. The windows sort per prefix block (the method's
    * classic hot-block weakness; the standard remedy — multi-pass SNM
    * over different keys — composes by unioning passes). */
  def d54SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sortedNeighborhood(Tables.documents(s, dir).select($"doc_id", $"text"))
  }

  /** d54's core over (doc_id, text): top-500 report over the unlimited
    * pair set — exposed for the planted prefix-edit spec. */
  private[graft] def sortedNeighborhood(docs: DataFrame): DataFrame =
    snmPairsAll(docs)
      .orderBy(desc_nulls_last("jaccard"), col("doc_a"), col("doc_b"))
      .limit(500)

  /** The unlimited SNM pair set (J ≥ 0.5, distinct) — shared by d54's
    * report and d55's audit. A caller that reads it twice caches it
    * (d55/d56 cache their stratum-filtered pair set). */
  private[graft] def snmPairsAll(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val keyed = docs
      .withColumn("skey",
        substring(lower(regexp_replace(trim($"text"), "\\s+", " ")), 1, 40))
      .withColumn("blk", substring($"skey", 1, 2))
      .withColumn("ts", array_distinct(toks($"text")))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"blk").orderBy($"skey", $"doc_id")))
      .cache() // both sides of the neighborhood join
    // band-bucket equi-join: joining on blk alone makes every same-prefix
    // block a quadratic buffered-pair loop (m² candidate rows, each
    // copying the token arrays — measured 173 s on the x4 clique corpus
    // vs 3.2 s uniform, slope 2.88). rn2 ∈ (rn, rn+W] implies
    // rn2 div W ∈ {rn div W, rn div W + 1}, so joining on
    // (blk, band-bucket) with the b side exploded to its two buckets
    // yields the IDENTICAL pair set with ≤ 2W²-per-bucket candidates —
    // 2W·n total, linear in block size (re-probed slope in `git show 0a8f65e:CLAUDE.md`)
    val a = keyed.select($"blk", $"rn", $"doc_id".as("ida"), $"ts".as("ta"))
      .withColumn("ga", expr(s"rn div $SnmW"))
    val b = keyed.select($"blk".as("blk2"), $"rn".as("rn2"),
        $"doc_id".as("idb"), $"ts".as("tb"))
      .withColumn("gb", explode(array(expr(s"rn2 div $SnmW"),
        expr(s"rn2 div $SnmW - 1"))))
    val inter = size(array_intersect($"ta", $"tb"))
    a.join(b, $"blk2" === $"blk" && $"gb" === $"ga" &&
        $"rn2" > $"rn" && $"rn2" <= $"rn" + SnmW)
      .select(least($"ida", $"idb").as("doc_a"),
        greatest($"ida", $"idb").as("doc_b"),
        r(inter.cast("double") /
          (size($"ta") + size($"tb") - inter), 6).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .distinct()
  }

  /** The SNM CTE block (sort keys → per-block ranks → windowed candidate
    * pairs → verified J ≥ 0.5 pair set `snmp`) — shared by d54's report
    * and d55's audit, so the audited pairs ARE the reported pairs. */
  private def snmCtesSql: String = {
    val inter = "len(list_intersect(a.ta, b.ta))"
    s"""k AS MATERIALIZED (SELECT doc_id,
         substring(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 40) AS skey,
         substring(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 2) AS blk,
         list_distinct(${toksSql("text")}) AS ta
       FROM documents),
       rk AS MATERIALIZED (SELECT doc_id, blk, ta,
           row_number() OVER (PARTITION BY blk ORDER BY skey, doc_id) AS rn
         FROM k),
       cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
           greatest(a.doc_id, b.doc_id) AS doc_b,
           ${rSql(s"$inter / (len(a.ta) + len(b.ta) - $inter)", 6)} AS jaccard
         FROM rk a JOIN rk b ON b.blk = a.blk
           AND b.rn > a.rn AND b.rn <= a.rn + $SnmW),
       snmp AS (SELECT doc_a, doc_b, jaccard FROM cand WHERE jaccard >= 0.5)"""
  }

  val d54Sql: String =
    s"""WITH $snmCtesSql
       SELECT doc_a, doc_b, jaccard FROM snmp
       ORDER BY jaccard DESC NULLS LAST, doc_a, doc_b
       LIMIT 500"""

  /** d55's audited stratum: the first [[SnmAuditBlockCap]] docs of each
    * lang block by portable hash-rank (md5, the s01/s04 family). Defined
    * above the vals that interpolate it (object-init order). */
  private val SnmAuditBlockCap = 400

  /** d55 — SNM audit, EXACT WITHIN A BOUNDED STRATUM (r11, closing the
    * last scale-killer weak entry): pair-level precision/recall/F1 of the
    * sorted-neighborhood pair set against the exact lang-blocked
    * all-pairs Jaccard graph, both sides restricted to the first
    * [[SnmAuditBlockCap]] docs PER LANG BLOCK by deterministic md5
    * hash-rank (the s04 salted two-phase ranking — lossless pre-filter,
    * no full-block sort on a 5-value key). Within the stratum the audit
    * is EXACT (every truth pair enumerated, no estimator) — the number
    * that justifies (or indicts) the window width W: recall < 1 counts
    * true pairs the W-successor window never saw, precision < 1 counts
    * SNM finds outside the blocked truth. At sf ≤ 0.01 every block fits
    * the cap, so the stratum IS the corpus (the pre-r11 full audit,
    * values unchanged); d56 stays the unbiased sampled estimator with
    * CI bounds — together they are the exact-local / estimated-global
    * audit pair.
    *
    * Scale shape: the truth graph costs Σ_b min(n_b, cap)² ≤ |langs|·cap²
    * pairs — FLAT in corpus size (was the measured slope-3.30 quadratic);
    * the SNM side and the hash-rank selection stay linear. */
  /** d55's stratum selection: the first [[SnmAuditBlockCap]] doc_ids per
    * lang block by (md5, doc_id) — salted two-phase so no window
    * partition ever holds a whole 100 TB block (per-(lang, salt)
    * prefilter bounds each partition; it is lossless because every salt
    * slice keeps its own first cap, a superset of the block's first cap). */
  private[graft] def snmAuditStratum(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", $"lang", md5($"doc_id".cast("string")).as("hk"))
      .withColumn("salt", pmod(xxhash64($"doc_id"), lit(16L)))
      .withColumn("r1", row_number().over(
        Window.partitionBy($"lang", $"salt").orderBy($"hk", $"doc_id")))
      .filter($"r1" <= SnmAuditBlockCap)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"hk", $"doc_id")))
      .filter($"rk" <= SnmAuditBlockCap)
      .select($"doc_id")
  }

  def d55SnmAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val kept = snmAuditStratum(docs)
      .localCheckpoint(true) // reused as 3 join filters
    val sn = snmPairsAll(docs.select($"doc_id", $"text"))
      .join(kept.select($"doc_id".as("doc_a")), Seq("doc_a"), "left_semi")
      .join(kept.select($"doc_id".as("doc_b")), Seq("doc_b"), "left_semi")
      .select($"doc_a", $"doc_b")
      .cache() // the audit counts it and joins it with the truth pairs
    val ex = nearDupPairsOver(docs
        .join(kept, Seq("doc_id"), "left_semi")
        .select($"doc_id", $"lang", array_distinct(toks($"text")).as("ts")))
      .select($"doc_a", $"doc_b")
      // checkpoint: the exact pair set feeds the count and the overlap
      // join (invariant 5 — the stratum join must not run twice)
      .localCheckpoint(true)
    snmAudit(sn, ex)
  }

  /** d55's metric core over explicit (doc_a, doc_b) pair frames —
    * exposed so the spec can plant a window-missed pair. */
  private[graft] def snmAudit(sn: DataFrame, ex: DataFrame): DataFrame = {
    val s = sn.sparkSession
    import s.implicits._
    val co = sn.join(ex, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_common"))
    val ne = ex.agg(count(lit(1)).as("n_exact"))
    val ns = sn.agg(count(lit(1)).as("n_snm"))
    ne.crossJoin(ns).crossJoin(co)
      .select($"n_exact", $"n_snm", $"n_common",
        when($"n_snm" > 0,
          r($"n_common".cast("double") / $"n_snm".cast("double"), 6))
          .otherwise(0.0).as("prec"),
        when($"n_exact" > 0,
          r($"n_common".cast("double") / $"n_exact".cast("double"), 6))
          .otherwise(0.0).as("rec"),
        when($"n_exact" + $"n_snm" > 0,
          r((lit(2L) * $"n_common").cast("double") /
            ($"n_exact" + $"n_snm").cast("double"), 6))
          .otherwise(0.0).as("f1"))
  }

  val d55Sql: String =
    s"""WITH $snmCtesSql,
       kept AS MATERIALIZED (SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (PARTITION BY lang
             ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
           FROM documents)
         WHERE rk <= $SnmAuditBlockCap),
       d5 AS (SELECT d.doc_id, d.lang, list_distinct(${toksSql("d.text")}) AS ts
         FROM documents d JOIN kept ON kept.doc_id = d.doc_id),
       ex AS MATERIALIZED (SELECT doc_a, doc_b FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ${rSql("len(list_intersect(a.ts, b.ts)) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))", 6)} AS jaccard
           FROM d5 a JOIN d5 b ON a.lang = b.lang AND a.doc_id < b.doc_id) p
         WHERE jaccard >= 0.5),
       sn AS (SELECT doc_a, doc_b FROM snmp
         JOIN kept ka ON ka.doc_id = snmp.doc_a
         JOIN kept kb ON kb.doc_id = snmp.doc_b),
       co AS (SELECT CAST(count(*) AS BIGINT) AS n_common
         FROM sn JOIN ex USING (doc_a, doc_b)),
       ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
       ns AS (SELECT CAST(count(*) AS BIGINT) AS n_snm FROM sn)
       SELECT n_exact, n_snm, n_common,
         CASE WHEN n_snm > 0
              THEN ${rSql("CAST(n_common AS DOUBLE) / CAST(n_snm AS DOUBLE)", 6)}
              ELSE 0.0 END AS prec,
         CASE WHEN n_exact > 0
              THEN ${rSql("CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE)", 6)}
              ELSE 0.0 END AS rec,
         CASE WHEN n_exact + n_snm > 0
              THEN ${rSql("CAST(2 * n_common AS DOUBLE) / CAST(n_exact + n_snm AS DOUBLE)", 6)}
              ELSE 0.0 END AS f1
       FROM ne CROSS JOIN ns CROSS JOIN co"""

  /** d56's sampled-document budget: the hash-gate modulus is
    * M = ⌈N / budget⌉, so the expected SAMPLE SIZE — and with it the
    * quadratic truth graph's cost (∝ sample²) — stays ~constant as the
    * corpus grows. Defined ABOVE every val that interpolates it
    * (object-init order — the e09 lesson: a later constant reads as 0). */
  private val SnmSampleBudget = 1250L

  /** d56 — the SCALE-SAFE form of d55's SNM audit: precision/recall/F1
    * estimated from a deterministic hash-gated document sample with an
    * ADAPTIVE rate (r10): the gate is `h60(doc_id) mod M = 0` with
    * M = ⌈N / 1250⌉ computed IN-PLAN from the corpus count (identical
    * integer arithmetic in both engines — `div`/`//`), so the expected
    * sample stays ~1250 docs at ANY corpus size and the audit's quadratic
    * member — the exact Jaccard truth graph, built only WITHIN the
    * sample — costs ~budget² regardless of N (at sf0.1 M=4, exactly the
    * old fixed 25% gate; at ×4 the gate tightens to 1/16 and the
    * sampled-pair work is flat). The gate is content-independent, so
    * sampling stays proportional across lang blocks. A pair survives iff
    * BOTH endpoints do, so numerator and denominator of each metric
    * shrink by the same p² in expectation: the P/R point estimates are
    * standard ratio estimators, reported with normal-approximation 95%
    * bounds (±1.96·√(p̂(1−p̂)/n), clamped to [0,1]) whose WIDENING as p
    * shrinks is the honest price of the flat cost. d55 stays the
    * exact-validation twin. Measured (ScaleProbe, sf0.1 replicated
    * ×1/×4): fixed-p d55 slope 3.30 (×4 = 447 s) vs adaptive d56 — see
    * the r10 probe numbers in `git show 0a8f65e:CLAUDE.md`. One row. */
  def d56SnmAuditSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // the adaptive modulus rides a broadcast 1-row count frame — no
    // driver-side sizing action, same arithmetic as the oracle's `//`
    val m = docs.agg(count(lit(1)).as("n_docs"))
      .select(expr(s"(n_docs + ${SnmSampleBudget - 1}) div $SnmSampleBudget").as("m"))
    val ids = docs.crossJoin(broadcast(m))
      .filter(DedupLsh.h60($"doc_id".cast("string")) % $"m" === 0)
      .select($"doc_id").localCheckpoint(true) // reused as 3 join filters
    val sn = snmPairsAll(docs.select($"doc_id", $"text"))
      .join(ids.select($"doc_id".as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select($"doc_id".as("doc_b")), Seq("doc_b"), "left_semi")
      .select($"doc_a", $"doc_b")
      .cache() // the audit counts it and joins it with the truth pairs
    val ex = nearDupPairsOver(docs
        .join(ids, Seq("doc_id"), "left_semi")
        .select($"doc_id", $"lang", array_distinct(toks($"text")).as("ts")))
      .select($"doc_a", $"doc_b")
      .localCheckpoint(true) // invariant 5: feeds the count and the overlap join
    snmAuditCi(sn, ex)
  }

  /** d56's metric core: [[snmAudit]]'s point estimates + the 95%
    * normal-approximation bounds on prec/rec. The se uses the ROUNDED
    * point estimate (deterministic in both engines); sqrt is an IEEE-754
    * correctly-rounded primitive, so the bounds are bit-portable. */
  private[graft] def snmAuditCi(sn: DataFrame, ex: DataFrame): DataFrame = {
    val s = sn.sparkSession
    import s.implicits._
    def lo(p: Column, n: Column): Column =
      r(greatest(lit(0.0), p - lit(1.96) * sqrt(p * (lit(1.0) - p) / n.cast("double"))), 6)
    def hi(p: Column, n: Column): Column =
      r(least(lit(1.0), p + lit(1.96) * sqrt(p * (lit(1.0) - p) / n.cast("double"))), 6)
    snmAudit(sn, ex)
      .select($"n_exact", $"n_snm", $"n_common", $"prec", $"rec", $"f1",
        when($"n_snm" > 0, lo($"prec", $"n_snm")).otherwise(0.0).as("prec_lo"),
        when($"n_snm" > 0, hi($"prec", $"n_snm")).otherwise(0.0).as("prec_hi"),
        when($"n_exact" > 0, lo($"rec", $"n_exact")).otherwise(0.0).as("rec_lo"),
        when($"n_exact" > 0, hi($"rec", $"n_exact")).otherwise(0.0).as("rec_hi"))
  }

  val d56Sql: String = {
    def loSql(p: String, n: String) = rSql(
      s"greatest(0.0, $p - CAST(1.96 AS DOUBLE) * sqrt($p * (1.0 - $p) / CAST($n AS DOUBLE)))", 6)
    def hiSql(p: String, n: String) = rSql(
      s"least(1.0, $p + CAST(1.96 AS DOUBLE) * sqrt($p * (1.0 - $p) / CAST($n AS DOUBLE)))", 6)
    s"""WITH $snmCtesSql,
       smod AS (SELECT (count(*) + ${SnmSampleBudget - 1}) // $SnmSampleBudget AS m
         FROM documents),
       sid AS MATERIALIZED (SELECT doc_id FROM documents CROSS JOIN smod
         WHERE ${DedupLsh.h60Sql("CAST(doc_id AS VARCHAR)")} % m = 0),
       d5 AS (SELECT d.doc_id, d.lang, list_distinct(${toksSql("d.text")}) AS ts
         FROM documents d JOIN sid ON sid.doc_id = d.doc_id),
       ex AS MATERIALIZED (SELECT doc_a, doc_b FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ${rSql("len(list_intersect(a.ts, b.ts)) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))", 6)} AS jaccard
           FROM d5 a JOIN d5 b ON a.lang = b.lang AND a.doc_id < b.doc_id) p
         WHERE jaccard >= 0.5),
       sn AS (SELECT doc_a, doc_b FROM snmp
         JOIN sid sa ON sa.doc_id = snmp.doc_a
         JOIN sid sb ON sb.doc_id = snmp.doc_b),
       co AS (SELECT CAST(count(*) AS BIGINT) AS n_common
         FROM sn JOIN ex USING (doc_a, doc_b)),
       ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
       ns AS (SELECT CAST(count(*) AS BIGINT) AS n_snm FROM sn),
       pt AS (SELECT n_exact, n_snm, n_common,
         CASE WHEN n_snm > 0
              THEN ${rSql("CAST(n_common AS DOUBLE) / CAST(n_snm AS DOUBLE)", 6)}
              ELSE 0.0 END AS prec,
         CASE WHEN n_exact > 0
              THEN ${rSql("CAST(n_common AS DOUBLE) / CAST(n_exact AS DOUBLE)", 6)}
              ELSE 0.0 END AS rec,
         CASE WHEN n_exact + n_snm > 0
              THEN ${rSql("CAST(2 * n_common AS DOUBLE) / CAST(n_exact + n_snm AS DOUBLE)", 6)}
              ELSE 0.0 END AS f1
       FROM ne CROSS JOIN ns CROSS JOIN co)
       SELECT n_exact, n_snm, n_common, prec, rec, f1,
         CASE WHEN n_snm > 0 THEN ${loSql("prec", "n_snm")} ELSE 0.0 END AS prec_lo,
         CASE WHEN n_snm > 0 THEN ${hiSql("prec", "n_snm")} ELSE 0.0 END AS prec_hi,
         CASE WHEN n_exact > 0 THEN ${loSql("rec", "n_exact")} ELSE 0.0 END AS rec_lo,
         CASE WHEN n_exact > 0 THEN ${hiSql("rec", "n_exact")} ELSE 0.0 END AS rec_hi
       FROM pt"""
  }

  /** d05 — near-duplicate pairs by token-set Jaccard, blocked on `lang`
    * (the exact quadratic baseline; MinHash LSH in [[DedupLsh]] is the
    * 100 TB path). |A∪B| computed as |A|+|B|−|A∩B| so both engines use
    * the same set primitive. Top-500 pairs for bounded output.
    *
    * Fast path: token sets that fit the capped vocabulary are bitmask-
    * encoded ([[TokenBits]]) so the millions of blocked pairs cost one
    * bit_count each instead of per-pair hash-set builds — ~20× on this
    * corpus. The mask/exact split is decided PER PAIR inside the plan
    * (no driver-side vocabulary probe — r3 review item), and results are
    * identical either way (same |A∩B|), so one oracle serves both. */
  def d05JaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nearDupPairs(s, dir)
      .orderBy($"jaccard".desc, $"doc_a", $"doc_b")
      .limit(500)
  }

  /** All near-duplicate pairs (J ≥ 0.5) — the shared edge generator for
    * d05's report and d09's cluster builder ([[Corpus.d09DedupClusters]]).
    * Unsorted/unlimited; columns (doc_a, doc_b, lang, jaccard).
    *
    * Plan shape: one capped-vocabulary mask pass ([[TokenBits]]), then the
    * lang-blocked self-join splits per pair — `bit_count` when at most one
    * side overflows the vocabulary (exact: a shared token is in-vocab
    * unless both docs overflow), `array_intersect` for the ovf×ovf rest.
    * On this corpus every doc fits → the exact branch is empty; on a
    * large-vocabulary corpus the mask branch thins out and the exact
    * branch is the old general path. Zero driver-side actions either way. */
  private[graft] def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nearDupPairsOver(Tables.documents(s, dir)
      .select($"doc_id", $"lang", array_distinct(toks($"text")).as("ts")))
  }

  /** [[nearDupPairs]] over an explicit (doc_id, lang, ts) frame — d56's
    * sampled audit builds the exact truth graph over a document SAMPLE,
    * so the pair generator must not hard-wire the full table. */
  private[graft] def nearDupPairsOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // cached: feeds the fast self-join (both sides) and the overflow
    // branch — without the barrier the mask pipeline (explode + vocab
    // join + bit_or) re-evaluates per branch (CLAUDE.md invariant 5)
    val m = TokenBits.withCappedMask(docs).cache()
    // lossless size pruning: J ≥ 0.5 ⟹ I ≥ (|A|+|B|)/3 and I ≤ min ⟹
    // max ≤ 2·min — pairs outside the 2× size band can never qualify, so
    // the predicate drops them before the intersection is computed (the
    // oracle needn't mirror it: it only removes non-qualifying pairs)
    def sizeBand(na: Column, nb: Column): Column = na <= nb * 2 && nb <= na * 2
    // the block key `lang` has ~5 distinct values, so a shuffled join
    // would put all pairs on ≤5 tasks; repartitioning the probe side
    // by doc_id and broadcasting the mask-compressed build side spreads
    // the quadratic work across every core.
    val a = m.select($"doc_id", $"lang", $"nt", $"mask".as("ma"), $"ovf".as("ova"))
      .repartition(col("doc_id"))
    val b = m.select($"doc_id".as("doc_id_b"), $"lang".as("lang_b"),
      $"nt".as("nt_b"), $"mask".as("mb"), $"ovf".as("ovb"))
    val interFast = TokenBits.interExpr
    val fast = a.join(broadcast(b), $"lang" === $"lang_b" && $"doc_id" < $"doc_id_b" &&
        sizeBand($"nt", $"nt_b") && !($"ova" && $"ovb"))
      .select($"doc_id".as("doc_a"), $"doc_id_b".as("doc_b"), $"lang",
        r(interFast.cast("double") / ($"nt" + $"nt_b" - interFast), 6).as("jaccard"))
    // ovf×ovf remainder: exact set intersection, no broadcast (on a
    // large-vocabulary corpus this side IS the corpus — the documented
    // exact-baseline fallback; empty on this corpus)
    val oa = m.filter($"ovf").select($"doc_id", $"lang", $"nt", $"ts")
    val ob = m.filter($"ovf").select($"doc_id".as("doc_id_b"), $"lang".as("lang_b"),
      $"nt".as("nt_b"), $"ts".as("tsb"))
    val interSlow = size(array_intersect($"ts", $"tsb"))
    val slow = oa.join(ob, $"lang" === $"lang_b" && $"doc_id" < $"doc_id_b" &&
        sizeBand($"nt", $"nt_b"))
      .select($"doc_id".as("doc_a"), $"doc_id_b".as("doc_b"), $"lang",
        r(interSlow.cast("double") / ($"nt" + $"nt_b" - interSlow), 6).as("jaccard"))
    fast.union(slow).filter($"jaccard" >= 0.5)
  }

  val d05Sql: String = {
    s"""WITH d AS (SELECT doc_id, lang, list_distinct(${toksSql("text")}) AS ts FROM documents)
       SELECT doc_a, doc_b, lang, jaccard FROM (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
           ${rSql("len(list_intersect(a.ts, b.ts)) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))", 6)} AS jaccard
         FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id) p
       WHERE jaccard >= 0.5
       ORDER BY jaccard DESC, doc_a, doc_b
       LIMIT 500"""
  }

  /** d06 — document fingerprinting: polynomial rolling hash over the
    * character codepoints (mod 1e9+7) + the normalized md5. Pure integer
    * arithmetic → identical across engines; codegen higher-order fns. */
  def d06Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    org.apache.spark.sql.graft.VectorExpressions.register(s)
    // the codegen'd graft_poly_hash replaces the interpreted
    // aggregate(transform(sequence(...))) fold — bit-identical (the spec
    // pins it against the lambda twin) and ~5× faster on this corpus
    Tables.documents(s, dir)
      .select($"doc_id",
        when(length($"text") > 0,
          org.apache.spark.sql.graft.VectorExpressions.polyHash($"text"))
          .otherwise(lit(0L)).as("poly_hash"),
        normFp($"text").as("md5_norm"))
      .orderBy($"doc_id")
  }

  val d06Sql: String =
    s"""SELECT doc_id,
       CASE WHEN length(text) > 0 THEN
         list_reduce(list_concat([CAST(0 AS BIGINT)],
           list_transform(range(1, length(text) + 1), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1000000007)
       ELSE 0 END AS poly_hash,
       ${normFpSql("text")} AS md5_norm
       FROM documents
       ORDER BY doc_id"""

  /** d07 — BPE-ish regex token counting: pre-tokenizer segmentation
    * (letter runs | digit runs | single non-space symbols — the GPT-2
    * pre-tokenizer shape without byte-level merges), counted next to the
    * whitespace tokenization for comparison. The simple character-class
    * regex behaves identically under Java regex and RE2. */
  def d07BpeTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val patt = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"
    Tables.documents(s, dir)
      .select($"doc_id",
        size(toks($"text")).as("n_ws_tokens"),
        size(regexp_extract_all($"text", lit(patt), lit(0))).as("n_bpe_tokens"))
      .withColumn("tokens_per_word",
        when($"n_ws_tokens" > 0,
          r($"n_bpe_tokens".cast("double") / $"n_ws_tokens", 4)).otherwise(0.0))
      .orderBy($"doc_id")
  }

  val d07Sql: String =
    s"""SELECT doc_id,
       len(${toksSql("text")}) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]')) AS n_bpe_tokens,
       CASE WHEN len(${toksSql("text")}) > 0
            THEN ${rSql(s"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]')) / len(${toksSql("text")})", 4)}
            ELSE 0.0 END AS tokens_per_word
       FROM documents
       ORDER BY doc_id"""

  /** Number of BPE merge rounds d27 trains (a fixed training trace, like
    * e10's [[Similarity.KmIters]] — enough rounds to see the vocabulary
    * compress, small enough for the 8-round unrolled DuckDB oracle). */
  private[graft] val BpeMerges = 8

  /** d27's core on an arbitrary (word, freq) vocabulary — exposed for the
    * hand-checkable Sennrich-example spec. Runs the classic BPE training
    * loop: count adjacent symbol pairs weighted by word frequency, merge
    * the most frequent pair (ties: lexicographic), repeat. The merge is
    * greedy left-to-right non-overlapping — the same semantics as one
    * non-overlapping string replace, which is how the DuckDB oracle
    * expresses it. Pure integer arithmetic end to end: no rounding
    * policy needed for engine parity. */
  private[graft] def bpeTrain(wf: org.apache.spark.sql.Dataset[(String, Long)],
      rounds: Int): DataFrame = {
    val s = wf.sparkSession
    import s.implicits._
    wf.groupByKey(_ => 0)
      .flatMapGroups { (_, it) =>
        // one vocabulary-sized group: sort for a canonical fold order
        // (the argmax itself is order-independent — unique (p1, p2) keys
        // under a total (-count, p1, p2) ordering)
        var vocab: Array[(Array[String], Long)] = it.toArray.sortBy(_._1)
          .map { case (w, f) => (w.toCharArray.map(_.toString), f) }
        val res = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
        var round = 1
        while (round <= rounds) {
          val cnt = scala.collection.mutable.HashMap[(String, String), Long]()
          vocab.foreach { case (sy, f) =>
            var i = 0
            while (i < sy.length - 1) {
              val k = (sy(i), sy(i + 1))
              cnt(k) = cnt.getOrElse(k, 0L) + f
              i += 1
            }
          }
          if (cnt.nonEmpty) {
            val ((p1, p2), c) =
              cnt.minBy { case ((a, b), n) => (-n, a, b) }
            vocab = vocab.map { case (sy, f) =>
              val nb = scala.collection.mutable.ArrayBuffer[String]()
              var i = 0
              while (i < sy.length) {
                if (i < sy.length - 1 && sy(i) == p1 && sy(i + 1) == p2) {
                  nb += p1 + p2; i += 2
                } else { nb += sy(i); i += 1 }
              }
              (nb.toArray, f)
            }
            val totalSyms = vocab.map { case (sy, f) => sy.length * f }.sum
            res += ((round, p1, p2, c, totalSyms))
          }
          round += 1
        }
        res.iterator
      }
      .toDF("merge_no", "p1", "p2", "pair_count", "corpus_symbols")
      .orderBy(col("merge_no"))
  }

  /** d27 — BPE merge training (Sennrich et al. 2016, arXiv:1508.07909):
    * learn the first [[BpeMerges]] byte-pair merges from the corpus and
    * report the training trace — merged pair, its pre-merge weighted
    * count, and the corpus symbol total after the merge (the compression
    * curve). d07 counts tokens under a FIXED pre-tokenizer; d27 trains
    * the data-dependent merge table a real tokenizer ships with.
    *
    * Plan shape: the corpus-sized work is ONE distributed token
    * explode→count (uniform vocabulary keys); the sequential merge loop
    * then runs over the vocabulary-SIZED frequency table in a single
    * mapGroups pass (the t15/e15 layout for order-dependent recurrences —
    * classic BPE trainers are exactly this: distributed count, single-node
    * merge loop, because the vocabulary is bounded while the corpus is
    * not). Words are restricted to the [a-z0-9]+ alphabet so symbol
    * indexing is codepoint-exact in both engines (real byte-level BPE
    * operates on bytes for the same reason). The DuckDB oracle unrolls
    * the rounds as MATERIALIZED CTEs (e15 lesson), expressing the greedy
    * left-to-right merge as a non-overlapping string replace over
    * control-char-wrapped symbols. */
  def d27BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wf = Tables.documents(s, dir)
      .select(explode(toks(lower($"text"))).as("w"))
      .filter($"w".rlike("^[a-z0-9]+$"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
    bpeTrain(wf, BpeMerges)
  }

  /** DuckDB symbol-stream split shared by the BPE training + encoding
    * oracles: every symbol is wrapped chr(1)<sym>chr(2), so a pair pattern
    * can never straddle a symbol boundary and replace() is exactly the
    * greedy left-to-right non-overlapping BPE merge. */
  private def bpeSymsSql(v: String): String =
    s"string_split(trim($v, chr(1) || chr(2)), chr(2) || chr(1))"

  /** Shared DuckDB BPE training CTEs (d27/d32 — one source of truth so the
    * trainer and the encoder can't drift): `wf` = alphabet word counts,
    * `v0` = wrapped symbol streams, then per round k: `pr_k` weighted pair
    * counts, `t_k` the round-k merge (argmax, lexicographic ties), `v_k`
    * the post-merge vocabulary state. MATERIALIZED throughout — plain CTEs
    * inline per reference and blow up the unrolled-iteration plan. */
  private def bpeCtesSql(rounds: Int): String = bpeCtesSql(rounds, "")

  /** `wordWhere` narrows the training word population (d61 trains both
    * tokenizers on d57's length-capped words so the fertility comparison
    * is apples-to-apples); empty keeps the d27/d32/d47 text verbatim. */
  private def bpeCtesSql(rounds: Int, wordWhere: String): String = {
    val rs = (1 to rounds).map { k =>
      val prev = s"v${k - 1}"
      s"""pr$k AS MATERIALIZED (
           SELECT string_split(pr, chr(3))[1] AS p1,
                  string_split(pr, chr(3))[2] AS p2,
                  (sum(f))::BIGINT AS cnt
           FROM (SELECT f, unnest(list_transform(range(1, len(sy)),
                    i -> sy[i] || chr(3) || sy[i + 1])) AS pr
                 FROM (SELECT f, ${bpeSymsSql("s")} AS sy FROM $prev))
           GROUP BY 1, 2),
         t$k AS MATERIALIZED (
           SELECT p1, p2, cnt FROM pr$k
           ORDER BY cnt DESC, p1 ASC, p2 ASC LIMIT 1),
         v$k AS MATERIALIZED (
           SELECT w, f, replace(s,
             chr(1) || p1 || chr(2) || chr(1) || p2 || chr(2),
             chr(1) || p1 || p2 || chr(2)) AS s
           FROM $prev CROSS JOIN t$k)"""
    }.mkString(",\n       ")
    s"""wf AS MATERIALIZED (
         SELECT w, count(*) AS f FROM (
           SELECT unnest(${toksSql("lower(text)")}) AS w FROM documents)
         WHERE regexp_matches(w, '^[a-z0-9]+${"$"}')$wordWhere
         GROUP BY w),
       v0 AS MATERIALIZED (
         SELECT w, f, array_to_string(list_transform(range(1, len(w) + 1),
           i -> chr(1) || w[i] || chr(2)), '') AS s
         FROM wf),
       $rs"""
  }

  val d27Sql: String = {
    val sCtes = (1 to BpeMerges).map { k =>
      s"""s$k AS (
           SELECT $k AS merge_no, p1, p2, cnt AS pair_count,
             (SELECT (sum(f * len(${bpeSymsSql("s")})))::BIGINT FROM v$k) AS corpus_symbols
           FROM t$k)"""
    }.mkString(",\n       ")
    val union = (1 to BpeMerges).map(k => s"SELECT * FROM s$k").mkString(" UNION ALL ")
    s"""WITH ${bpeCtesSql(BpeMerges)},
       $sCtes
       SELECT merge_no, p1, p2, pair_count, corpus_symbols
       FROM ($union)
       ORDER BY merge_no"""
  }

  /** d32's core: encode per-occurrence words with a learned merge table by
    * replaying the merges IN TRAINING ORDER as wrapped-string replaces —
    * round k's single non-overlapping replace applied to the round-(k-1)
    * state is literally what training did to the vocabulary, so encoding
    * the training corpus reproduces the trainer's final symbol totals
    * exactly (the conservation spec). The merge table is pivoted into ONE
    * broadcast row (pat_k/rep_k columns), so the trainer sub-plan executes
    * once as a broadcast build and the corpus side is a scan-local fold of
    * [[rounds]] replaces. Returns (doc_id, w, bpe = symbol count). */
  /** The learned merge table pivoted into ONE row of pat_k/rep_k wrapped
    * replace patterns — the broadcastable "model artifact" of the trained
    * tokenizer (shared by d32 and the streaming encode twin). */
  private[graft] def mergesOneRow(merges: DataFrame, rounds: Int): DataFrame = {
    val aggs = (1 to rounds).flatMap { k =>
      Seq(
        min(when(col("merge_no") === k,
          concat(lit("\u0001"), col("p1"), lit("\u0002\u0001"), col("p2"), lit("\u0002"))))
          .as(s"pat$k"),
        min(when(col("merge_no") === k,
          concat(lit("\u0001"), col("p1"), col("p2"), lit("\u0002")))).as(s"rep$k"))
    }
    merges.agg(aggs.head, aggs.tail: _*)
  }

  /** BPE symbol count of word-column `w` under the pat_k/rep_k columns of
    * [[mergesOneRow]] (which must be in scope): wrap every char, replay
    * the merges in training order as non-overlapping replaces, count the
    * surviving symbol markers. Pure Column algebra — usable per exploded
    * word (d32) or inside a higher-order lambda over a token array (the
    * streaming twin). */
  private[graft] def bpeCountCol(w: Column, rounds: Int): Column = {
    val wrapped = regexp_replace(w, "(.)", "\u0001$1\u0002")
    val enc = (1 to rounds).foldLeft(wrapped)((acc, k) =>
      replace(acc, col(s"pat$k"), col(s"rep$k")))
    length(enc) - length(replace(enc, lit("\u0001"), lit("")))
  }

  private[graft] def bpeEncode(words: DataFrame, merges: DataFrame, rounds: Int): DataFrame =
    words.crossJoin(broadcast(mergesOneRow(merges, rounds)))
      .select(col("doc_id"), col("w"), bpeCountCol(col("w"), rounds).as("bpe"))

  /** d32 — BPE encoding with the d27-learned merge table (the apply half
    * of the tokenizer: d27 trains the merges, d32 tokenizes the corpus
    * with them — together the full Sennrich train/encode cycle). Per doc:
    * alphabet-word count, character count, BPE token count under the
    * 8-merge vocabulary, and chars-per-token (the compression a larger
    * merge table would push toward real tokenizers' ~4). Docs with no
    * [a-z0-9]+ word drop out (nothing to encode), matching the inner
    * explode on both engines.
    *
    * Scale shape: training is d27's ONE distributed count + one
    * vocabulary-sized mapGroups; the 8 merges pivot to a single broadcast
    * row; encoding is scan-local string folding per word occurrence; the
    * only corpus-sized shuffle is the final uniform groupBy(doc_id) with
    * map-side combine. All-integer outputs except the ratio (rounded). */
  def d32BpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val wf = docs.select(explode(toks(lower($"text"))).as("w"))
      .filter($"w".rlike("^[a-z0-9]+$"))
      .groupBy($"w").agg(count(lit(1)).as("f")).as[(String, Long)]
    val words = docs.select($"doc_id", explode(toks(lower($"text"))).as("w"))
      .filter($"w".rlike("^[a-z0-9]+$"))
    bpeEncode(words, bpeTrain(wf, BpeMerges), BpeMerges)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"w")).as("n_chars"),
        sum($"bpe").as("n_bpe_tokens"))
      .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens",
        r($"n_chars" / $"n_bpe_tokens", 4).as("chars_per_token"))
      .orderBy($"doc_id")
  }

  /** The trained-merge encode chain in SQL (x0 char-wrap → one replace
    * per merge round), ending in x[[BpeMerges]](doc_id, w, s) — shared by
    * d32's per-doc report and d47's per-lang fertility. */
  private lazy val bpeEncodeChainSql: String = bpeEncodeChain("")

  private def bpeEncodeChain(wordWhere: String): String = {
    val encChain = (1 to BpeMerges).map { k =>
      s"""x$k AS (
           SELECT doc_id, w, replace(s,
             chr(1) || p1 || chr(2) || chr(1) || p2 || chr(2),
             chr(1) || p1 || p2 || chr(2)) AS s
           FROM x${k - 1} CROSS JOIN t$k)"""
    }.mkString(",\n       ")
    s"""x0 AS (
         SELECT doc_id, w, array_to_string(list_transform(range(1, len(w) + 1),
           i -> chr(1) || w[i] || chr(2)), '') AS s
         FROM (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS w FROM documents)
         WHERE regexp_matches(w, '^[a-z0-9]+${"$"}')$wordWhere),
       $encChain"""
  }

  val d32Sql: String =
    s"""WITH ${bpeCtesSql(BpeMerges)},
       $bpeEncodeChainSql
       SELECT doc_id, count(*) AS n_words,
         CAST(sum(len(w)) AS BIGINT) AS n_chars,
         CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT) AS n_bpe_tokens,
         ${rSql("CAST(sum(len(w)) AS BIGINT) / CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT)", 4)}
           AS chars_per_token
       FROM x$BpeMerges GROUP BY doc_id ORDER BY doc_id"""

  /** d47 — tokenizer fertility per language: the per-lang rollup of
    * d32's encode (chars per BPE token and tokens per word under the
    * d27-trained merges). THE cross-lingual tokenizer-equity audit: a
    * tokenizer trained on one language's statistics fragments the others
    * (fertility ↑), which multiplies their effective training cost —
    * the number multilingual-corpus teams read before fixing a merge
    * table. Same trained model, same encode chain as d32 (shared
    * [[bpeEncodeChainSql]] / [[bpeEncode]]), one lang-keyed rollup
    * instead of doc-keyed; null langs coalesce to ''.
    *
    * Scale shape: d32's (training + scan-local encode) with the final
    * uniform groupBy on the ≤|langs| key after a doc_id-keyed lang join. */
  def d47BpeFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val wf = docs.select(explode(toks(lower($"text"))).as("w"))
      .filter($"w".rlike("^[a-z0-9]+$"))
      .groupBy($"w").agg(count(lit(1)).as("f")).as[(String, Long)]
    val words = docs.select($"doc_id", explode(toks(lower($"text"))).as("w"))
      .filter($"w".rlike("^[a-z0-9]+$"))
    val langs = docs.select($"doc_id", coalesce($"lang", lit("")).as("lang"))
    bpeEncode(words, bpeTrain(wf, BpeMerges), BpeMerges)
      .join(langs, "doc_id")
      .groupBy($"lang")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(length($"w")).as("n_chars"),
        sum($"bpe").as("n_bpe_tokens"))
      .select($"lang", $"n_docs", $"n_words", $"n_chars", $"n_bpe_tokens",
        r($"n_chars" / $"n_bpe_tokens", 4).as("chars_per_token"),
        r($"n_bpe_tokens".cast("double") / $"n_words".cast("double"), 4)
          .as("tokens_per_word"))
      .orderBy($"lang")
  }

  val d47Sql: String =
    s"""WITH ${bpeCtesSql(BpeMerges)},
       $bpeEncodeChainSql,
       lj AS (SELECT doc_id, coalesce(lang, '') AS lang FROM documents)
       SELECT lang, count(DISTINCT x.doc_id) AS n_docs, count(*) AS n_words,
         CAST(sum(len(w)) AS BIGINT) AS n_chars,
         CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT) AS n_bpe_tokens,
         ${rSql("CAST(sum(len(w)) AS BIGINT) / CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT)", 4)}
           AS chars_per_token,
         ${rSql("CAST(CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)}
           AS tokens_per_word
       FROM x$BpeMerges x JOIN lj ON lj.doc_id = x.doc_id
       GROUP BY lang ORDER BY lang"""

  // --- d57: unigram-LM tokenizer training (SentencePiece) --------------------

  /** d57's fixed training schedule: words capped at [[UniMaxWord]] chars
    * (bounds the DP and the oracle's unrolled levels), candidate pieces
    * at [[UniMaxPiece]] chars, seed vocabulary capped at [[UniSeedV]]
    * pieces, [[UniRounds]] Viterbi-EM rounds. */
  private[graft] val UniMaxWord = 12
  private[graft] val UniMaxPiece = 4
  private[graft] val UniSeedV = 120
  private[graft] val UniRounds = 2

  /** d57 — unigram language-model tokenizer training (Kudo 2018,
    * arXiv:1804.10959 — the SentencePiece unigram model; the
    * probabilistic complement of d27's BPE: BPE grows a vocabulary by
    * greedy merges, unigram starts from a large substring seed and
    * re-estimates piece probabilities so Viterbi segmentation under
    * − ln p picks maximum-likelihood pieces). Fixed deterministic
    * schedule: seed = all single characters plus the top multi-char
    * substrings by weighted frequency ([[UniSeedV]] total, ties
    * lexicographic), then [[UniRounds]] hard-EM rounds — E: Viterbi
    * segmentation of every distinct word (cost = ln(total/count), ties
    * broken toward the LONGEST piece), M: piece count = weighted
    * Viterbi emissions, zero-count multi-char pieces pruned, single
    * characters floored at 1 (coverage guarantee). Output: the final
    * vocabulary (seed vs final counts, final − ln p), plus a `_corpus`
    * summary row (word occurrences, weighted emitted pieces, avg
    * pieces/word — the fertility of the learned tokenizer).
    *
    * Engine parity: counts stay integers end to end; the only
    * transcendental is `ln(total/count)` evaluated as one
    * double-division-then-ln in both engines (the d10/d26/d37 ln-parity
    * family), and every DP value is a fixed-order sum of those — the
    * backtrace compares values both engines computed bit-identically.
    *
    * Plan shape: ONE distributed word count, then the whole
    * seed/EM/Viterbi pipeline runs over the vocabulary-SIZED word table
    * in a single mapGroups pass (the d27 layout — corpora grow, the
    * alphabet-word vocabulary does not). The DuckDB oracle unrolls both
    * EM rounds as MATERIALIZED CTE levels: 12 forward-DP levels + 12
    * backtrace levels per round. */
  def d57UnigramTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wf = Tables.documents(s, dir)
      .select(explode(toks(lower($"text"))).as("w"))
      .filter($"w".rlike("^[a-z0-9]+$") && length($"w") <= UniMaxWord)
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
    unigramTrain(wf)
  }

  /** The d57 hard-EM schedule on a sorted word array — the ONE
    * implementation d57 (train report) and d61 (encode/fertility) share,
    * so the two queries' tokenizers cannot drift: returns (substring seed
    * counts, final vocabulary counts, per-word FINAL-round Viterbi piece
    * counts, weighted total emitted pieces). */
  private def uniEmCore(words: Array[(String, Long)])
      : (scala.collection.mutable.HashMap[String, Long], Map[String, Long],
         scala.collection.mutable.HashMap[String, Long], Long) = {
    // seed: weighted counts of every substring up to UniMaxPiece
    val seed = scala.collection.mutable.HashMap[String, Long]()
    words.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var k = 1
        while (k <= math.min(UniMaxPiece, w.length - i)) {
          val p = w.substring(i, i + k)
          seed(p) = seed.getOrElse(p, 0L) + f
          k += 1
        }
        i += 1
      }
    }
    val chars = seed.iterator.filter(_._1.length == 1).toArray.sortBy(_._1)
    val multis = seed.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, UniSeedV - chars.length))
    var vocab: Map[String, Long] = (chars ++ multis).toMap
    var totalPieces = 0L
    val perWord = scala.collection.mutable.HashMap[String, Long]()
    var round = 1
    while (round <= UniRounds) {
      val tot = vocab.valuesIterator.sum
      // the ONE transcendental: division first, then ln — the oracle
      // spells the identical expression
      val cost: Map[String, Double] =
        vocab.map { case (p, c) => p -> math.log(tot.toDouble / c.toDouble) }
      val emitted = scala.collection.mutable.HashMap[String, Long]()
      totalPieces = 0L
      words.foreach { case (w, f) =>
        val best = Array.fill(w.length + 1)(Double.PositiveInfinity)
        best(0) = 0.0
        var i = 1
        while (i <= w.length) {
          var k = 1
          while (k <= math.min(UniMaxPiece, i)) {
            cost.get(w.substring(i - k, i)).foreach { c =>
              val v = best(i - k) + c
              if (v < best(i)) best(i) = v
            }
            k += 1
          }
          i += 1
        }
        // backtrace, longest-piece tie-break (ascending k, last wins)
        var pos = w.length
        var nPieces = 0L
        while (pos > 0) {
          var kSel = -1
          var k = 1
          while (k <= math.min(UniMaxPiece, pos)) {
            val p = w.substring(pos - k, pos)
            if (cost.contains(p) && best(pos - k) + cost(p) == best(pos))
              kSel = k
            k += 1
          }
          val p = w.substring(pos - kSel, pos)
          emitted(p) = emitted.getOrElse(p, 0L) + f
          nPieces += 1
          pos -= kSel
        }
        perWord(w) = nPieces
        totalPieces += f * nPieces
      }
      vocab = vocab.flatMap { case (p, _) =>
        val c = emitted.getOrElse(p, 0L)
        if (c > 0) Some(p -> c)
        else if (p.length == 1) Some(p -> 1L) // coverage floor
        else None
      }
      round += 1
    }
    (seed, vocab, perWord, totalPieces)
  }

  /** d57's core on an arbitrary (word, freq) table — exposed for the
    * hand-computed dominance spec. */
  private[graft] def unigramTrain(wf: org.apache.spark.sql.Dataset[(String, Long)]): DataFrame = {
    val s = wf.sparkSession
    import s.implicits._
    wf.groupByKey(_ => 0)
      .flatMapGroups { (_, it) =>
        val words = it.toArray.sortBy(_._1)
        val (seed, vocab, _, totalPieces) = uniEmCore(words)
        val totF = vocab.valuesIterator.sum
        val wordOcc = words.map(_._2).sum
        val out = vocab.toArray.map { case (p, c) =>
          (p, p.length.toLong, seed(p), c,
            Num.rD(math.log(totF.toDouble / c.toDouble), 6))
        } :+ (("_corpus", 0L, wordOcc, totalPieces,
          Num.rD(totalPieces.toDouble / wordOcc.toDouble, 6)))
        out.iterator
      }
      .toDF("piece", "piece_len", "seed_count", "final_count", "cost")
      .orderBy(desc_nulls_last("final_count"), col("piece"))
  }

  /** The encode half of the d57 tokenizer: per-word FINAL-round Viterbi
    * piece counts (the unigram analogue of [[bpeEncode]]'s per-word
    * symbol counts) — vocabulary-sized output, broadcastable back onto
    * corpus occurrences. */
  private[graft] def unigramPieceCounts(
      wf: org.apache.spark.sql.Dataset[(String, Long)]): DataFrame = {
    val s = wf.sparkSession
    import s.implicits._
    wf.groupByKey(_ => 0)
      .flatMapGroups { (_, it) =>
        val words = it.toArray.sortBy(_._1)
        val (_, _, perWord, _) = uniEmCore(words)
        words.iterator.map { case (w, _) => (w, perWord(w)) }
      }
      .toDF("w", "uni")
  }

  /** The shared DuckDB unigram-EM CTE body (d57 train / d61 encode — one
    * source of truth so the two queries' tokenizers can't drift): the
    * identical schedule unrolled as MATERIALIZED CTE levels (d27's
    * oracle pattern). Generated mechanically per round: forward-DP
    * levels `b{r}_i` (min over the ≤[[UniMaxPiece]] pieces ending at i),
    * a unioned value table `bb{r}`, backtrace levels `bt{r}_j` (largest
    * k achieving the recorded minimum), emitted-count recount `em{r}`,
    * and the re-estimated vocabulary `voc{r}`. */
  private lazy val uniCtesSql: String = {
    val L = UniMaxPiece
    val W = UniMaxWord
    def fwd(r: Int): String = {
      val levels = (1 to W).map { i =>
        val branches = (1 to math.min(L, i)).map { k =>
          s"""SELECT b.w, b.f, b.v + c.c AS v
             FROM b${r}_${i - k} b JOIN cost$r c ON c.p = b.w[${i - k + 1}:$i]
             WHERE len(b.w) >= $i"""
        }.mkString(" UNION ALL ")
        s"""b${r}_$i AS MATERIALIZED (
           SELECT w, f, min(v) AS v FROM ($branches) GROUP BY w, f)"""
      }.mkString(",\n       ")
      val bbU = (0 to W).map(i => s"SELECT w, $i AS i, v FROM b${r}_$i")
        .mkString(" UNION ALL ")
      s"""b${r}_0 AS (SELECT w, f, 0.0 AS v FROM wfu),
       $levels,
       bb$r AS MATERIALIZED ($bbU)"""
    }
    def bt(r: Int): String = {
      val levels = (1 to W).map { j =>
        val branches = (1 to L).map { k =>
          s"""SELECT t.w, t.f, t.pos, $k AS k,
               t.w[t.pos - ${k - 1}:t.pos] AS p
             FROM bt${r}_${j - 1} t
             JOIN cost$r c ON c.p = t.w[t.pos - ${k - 1}:t.pos]
             JOIN bb$r ba ON ba.w = t.w AND ba.i = t.pos - $k
             JOIN bb$r be ON be.w = t.w AND be.i = t.pos
             WHERE t.pos >= $k AND ba.v + c.c = be.v"""
        }.mkString(" UNION ALL ")
        s"""bt${r}_$j AS MATERIALIZED (
           SELECT w, f, pos - k AS pos, p FROM (
             SELECT *, row_number() OVER (PARTITION BY w ORDER BY k DESC) AS rn
             FROM ($branches)) WHERE rn = 1)"""
      }.mkString(",\n       ")
      val emU = (1 to W).map(j => s"SELECT f, p FROM bt${r}_$j")
        .mkString(" UNION ALL ")
      s"""bt${r}_0 AS (SELECT w, f, len(w) AS pos FROM wfu),
       $levels,
       em$r AS MATERIALIZED (
         SELECT p, CAST(sum(f) AS BIGINT) AS cnt FROM ($emU) GROUP BY p)"""
    }
    def round(r: Int): String =
      s"""tot$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM voc${r - 1}),
       cost$r AS MATERIALIZED (
         SELECT p, ln(CAST(t AS DOUBLE) / CAST(cnt AS DOUBLE)) AS c
         FROM voc${r - 1} CROSS JOIN tot$r),
       ${fwd(r)},
       ${bt(r)},
       voc$r AS MATERIALIZED (
         SELECT v.p,
           CASE WHEN e.cnt IS NOT NULL THEN e.cnt ELSE 1 END AS cnt
         FROM voc${r - 1} v LEFT JOIN em$r e ON e.p = v.p
         WHERE e.cnt IS NOT NULL OR len(v.p) = 1)"""
    val rounds = (1 to UniRounds).map(round).mkString(",\n       ")
    s"""wfu AS MATERIALIZED (
         SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
           SELECT unnest(${toksSql("lower(text)")}) AS w FROM documents)
         WHERE regexp_matches(w, '^[a-z0-9]+${"$"}') AND len(w) <= $W
         GROUP BY w),
       seeds AS MATERIALIZED (
         SELECT p, CAST(sum(f) AS BIGINT) AS cnt FROM (
           SELECT f, unnest(flatten(list_transform(range(1, len(w) + 1),
             i -> list_transform(range(1, least($L, len(w) - i + 1) + 1),
               k -> w[i:i + k - 1])))) AS p
           FROM wfu) GROUP BY p),
       chs AS MATERIALIZED (SELECT p, cnt FROM seeds WHERE len(p) = 1),
       mts AS MATERIALIZED (SELECT p, cnt FROM (
           SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn
           FROM seeds WHERE len(p) > 1)
         WHERE rn <= $UniSeedV - (SELECT count(*) FROM chs)),
       voc0 AS MATERIALIZED (
         SELECT p, cnt FROM chs UNION ALL SELECT p, cnt FROM mts),
       $rounds"""
  }

  val d57Sql: String = {
    val R = UniRounds
    s"""WITH $uniCtesSql,
       totf AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM voc$R),
       womm AS (SELECT CAST(sum(f) AS BIGINT) AS wo FROM wfu),
       tp AS (SELECT CAST(sum(cnt) AS BIGINT) AS np FROM em$R)
       SELECT piece, piece_len, seed_count, final_count, cost FROM (
         SELECT v.p AS piece, CAST(len(v.p) AS BIGINT) AS piece_len,
           s0.cnt AS seed_count, v.cnt AS final_count,
           ${rSql("ln(CAST(t AS DOUBLE) / CAST(v.cnt AS DOUBLE))", 6)} AS cost
         FROM voc$R v JOIN seeds s0 ON s0.p = v.p CROSS JOIN totf
         UNION ALL
         SELECT '_corpus', CAST(0 AS BIGINT), wo, np,
           ${rSql("CAST(np AS DOUBLE) / CAST(wo AS DOUBLE)", 6)}
         FROM womm CROSS JOIN tp)
       ORDER BY final_count DESC NULLS LAST, piece"""
  }

  /** d61 — UNIGRAM vs BPE fertility per language (r13: the encode half
    * of the d57 SentencePiece-unigram tokenizer, rolled up next to d47's
    * BPE fertility — THE cross-TOKENIZER equity audit a multilingual
    * corpus team reads when choosing the tokenizer family): both
    * tokenizers train on the SAME length-capped word population
    * (d57's ≤[[UniMaxWord]]-char alphabet words), then every word
    * occurrence is encoded BOTH ways — the unigram side by the
    * FINAL-round Viterbi piece counts ([[unigramPieceCounts]], the d57
    * core verbatim so the two queries' tokenizers cannot drift), the BPE
    * side by the d32 replace-chain — and per language the report carries
    * chars-per-token for each plus the unigram/BPE token ratio.
    *
    * Scale shape: both trainings are ONE distributed word count + one
    * vocabulary-sized sequential pass (the d27 layout); both encodes are
    * vocabulary-sized (per DISTINCT word) and broadcast back onto
    * occurrences — corpus-scale work is the word explode and one
    * ≤|langs|-key rollup. */
  def d61UnigramFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val words = docs.select($"doc_id", explode(toks(lower($"text"))).as("w"))
      .filter($"w".rlike("^[a-z0-9]+$") && length($"w") <= UniMaxWord)
    // ONE evaluation feeds both trainers (invariant 5)
    val wf = words.groupBy($"w").agg(count(lit(1)).as("f")).as[(String, Long)]
      .localCheckpoint(true)
    val langs = docs.select($"doc_id", coalesce($"lang", lit("")).as("lang"))
    bpeEncode(words, bpeTrain(wf, BpeMerges), BpeMerges) // (doc_id, w, bpe)
      .join(broadcast(unigramPieceCounts(wf)), "w")      // + (w, uni)
      .join(langs, "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"w")).as("n_chars"),
        sum($"uni").as("n_uni_tokens"),
        sum($"bpe").as("n_bpe_tokens"))
      .select($"lang", $"n_words", $"n_chars", $"n_uni_tokens", $"n_bpe_tokens",
        r($"n_chars" / $"n_uni_tokens", 4).as("uni_chars_per_token"),
        r($"n_chars" / $"n_bpe_tokens", 4).as("bpe_chars_per_token"),
        r($"n_uni_tokens".cast("double") / $"n_bpe_tokens".cast("double"), 4)
          .as("uni_vs_bpe"))
      .orderBy($"lang")
  }

  val d61Sql: String = {
    val R = UniRounds
    val cap = s" AND len(w) <= $UniMaxWord"
    val npwU = (1 to UniMaxWord).map(j => s"SELECT w FROM bt${R}_$j")
      .mkString(" UNION ALL ")
    s"""WITH $uniCtesSql,
       ${bpeCtesSql(BpeMerges, cap)},
       ${bpeEncodeChain(cap)},
       npw AS MATERIALIZED (
         SELECT w, CAST(count(*) AS BIGINT) AS uni FROM ($npwU) GROUP BY w),
       lj AS (SELECT doc_id, coalesce(lang, '') AS lang FROM documents)
       SELECT lang, count(*) AS n_words,
         CAST(sum(len(x.w)) AS BIGINT) AS n_chars,
         CAST(sum(n.uni) AS BIGINT) AS n_uni_tokens,
         CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT) AS n_bpe_tokens,
         ${rSql("CAST(sum(len(x.w)) AS BIGINT) / CAST(sum(n.uni) AS BIGINT)", 4)}
           AS uni_chars_per_token,
         ${rSql("CAST(sum(len(x.w)) AS BIGINT) / CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT)", 4)}
           AS bpe_chars_per_token,
         ${rSql("CAST(CAST(sum(n.uni) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT) AS DOUBLE)", 4)}
           AS uni_vs_bpe
       FROM x$BpeMerges x
       JOIN npw n ON n.w = x.w
       JOIN lj ON lj.doc_id = x.doc_id
       GROUP BY lang ORDER BY lang"""
  }

  /** d12 — document chunking: fixed-size token windows (64 tokens,
    * stride 56 → 8-token overlap) — the packing step that turns variable-
    * length documents into training-window-sized pieces. A cached token
    * array feeds a generator (chunk index explode) + array slices —
    * scan-local per document, embarrassingly parallel at any corpus
    * size; the explode multiplies rows only by the per-doc chunk count.
    * Oracle via DuckDB list_slice over the zipped-unnest index pattern
    * (CLAUDE.md invariant 7, the generate_series quirk). */
  def d12ChunkSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Size = 64
    val Stride = 56
    Tables.documents(s, dir)
      .select($"doc_id", toks($"text").as("tk"))
      .withColumn("n", size($"tk"))
      .filter($"n" >= 1)
      // cache not needed: tk is evaluated once per output row by the
      // generator, and slices reuse the materialized array reference
      .select($"doc_id", $"tk", $"n",
        explode(expr(s"sequence(0, CAST(ceil(n / $Stride.0D) AS INT) - 1)")).as("chunk_id"))
      .withColumn("chunk_tokens", expr(s"slice(tk, chunk_id * $Stride + 1, $Size)"))
      .select($"doc_id", $"chunk_id",
        size($"chunk_tokens").as("n_chunk_tokens"),
        array_join($"chunk_tokens", " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val d12Sql: String = {
    val t = toksSql("text")
    s"""WITH d AS (SELECT doc_id, $t AS tk, len($t) AS n FROM documents
                   WHERE len($t) >= 1),
       c AS (SELECT doc_id, tk,
               unnest(generate_series(0, CAST(ceil(n / 56.0) AS INT) - 1)) AS chunk_id
             FROM d)
       SELECT doc_id, chunk_id,
         len(list_slice(tk, chunk_id * 56 + 1, chunk_id * 56 + 64)) AS n_chunk_tokens,
         array_to_string(list_slice(tk, chunk_id * 56 + 1, chunk_id * 56 + 64), ' ') AS chunk_text
       FROM c
       ORDER BY doc_id, chunk_id"""
  }

  // --- d21: Count-Min heavy hitters — the frequency sketch twin of q40 --

  private[graft] val CmsD = 4
  private[graft] val CmsW = 64

  /** The D salted (d, b) bucket structs of the `tok` column — the one CMS
    * hash layout, shared by d21's sketch and (via [[cmsCellsOf]]) the
    * streaming twin's replay spec, so the two can't drift. */
  private[graft] def cmsBuckets: Column =
    explode(array((0 until CmsD).map(d =>
      struct(lit(d).as("d"),
        (DedupLsh.h60(concat(lit(s"$d:"), col("tok"))) % CmsW).cast("int").as("b"))): _*))

  /** The batch CMS cell table over a one-column (`tok`) occurrence frame —
    * d21's sketch stage over raw occurrences (arithmetic-identical to
    * d21's count-table fold), for the streaming differential. */
  private[graft] def cmsCellsOf(occ: DataFrame): DataFrame =
    occ.select(col("tok"), cmsBuckets.as("x"))
      .groupBy(col("x.d").as("d"), col("x.b").as("b"))
      .agg(count(lit(1)).as("cell"))

  /** d21 — heavy hitters via a portable Count-Min sketch (Cormode &
    * Muthukrishnan 2005): [[CmsD]]×[[CmsW]] salted md5-rank counters
    * (the q40/d04-proven portable hash), point estimate = min over the
    * D rows — reported against exact counts for the top-20 tokens, so
    * the CMS ≥ exact overestimate guarantee is visible per row.
    *
    * Scale shape: ONE corpus-wide (token → count) aggregation (map-side
    * combined), then everything downstream — the 256-cell sketch, the
    * top-20, the estimates — is vocabulary-sized. Sketching the count
    * table instead of raw occurrences is arithmetic-identical (cells sum
    * occurrence counts either way) and keeps the hash work off the fat
    * side; at 100 TB you'd fold the same salted-hash cells map-side with
    * no extra shuffle. The whole sketch mirrors in DuckDB SQL. */
  def d21CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = Tables.documents(s, dir)
      .select(explode(toks(lower($"text"))).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("exact_cnt"))
      .cache() // vocabulary-sized; feeds the cell table AND the top-k
    val db = exact
      .select($"tok", $"exact_cnt", cmsBuckets.as("x"))
      .select($"tok", $"exact_cnt", $"x.d".as("d"), $"x.b".as("b"))
    val sketch = db.groupBy($"d", $"b").agg(sum($"exact_cnt").as("cell"))
    val top = exact
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"exact_cnt".desc, $"tok")))
      .filter($"rank" <= 20)
    top.join(db.select($"tok", $"d", $"b"), "tok")
      .join(broadcast(sketch), Seq("d", "b"))
      .groupBy($"rank", $"tok", $"exact_cnt")
      .agg(min($"cell").as("cms_est"))
      .withColumn("overcount", $"cms_est" - $"exact_cnt")
      .orderBy($"rank")
  }

  val d21Sql: String =
    s"""WITH tok AS (SELECT unnest(${toksSql("lower(text)")}) AS tok FROM documents),
       ex AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok),
       dbx AS (SELECT tok, exact_cnt, unnest(range(0, $CmsD)) AS d FROM ex),
       db AS (SELECT tok, exact_cnt, d,
           ${DedupLsh.h60Sql("CAST(d AS VARCHAR) || ':' || tok")} % $CmsW AS b
         FROM dbx),
       sk AS (SELECT d, b, CAST(sum(exact_cnt) AS BIGINT) AS cell FROM db GROUP BY d, b),
       top AS (SELECT tok, exact_cnt, rank FROM (
           SELECT tok, exact_cnt,
             row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rank FROM ex) z
         WHERE rank <= 20)
       SELECT t.rank, t.tok AS tok, t.exact_cnt, min(s.cell) AS cms_est,
         min(s.cell) - t.exact_cnt AS overcount
       FROM top t
       JOIN db ON db.tok = t.tok
       JOIN sk s ON s.d = db.d AND s.b = db.b
       GROUP BY t.rank, t.tok, t.exact_cnt
       ORDER BY t.rank"""

  // --- d24: sub-document (chunk-level) dedup ----------------------------

  private val DedupChunk = 16

  /** d24 — chunk-level deduplication: the sub-document dedup step of web
    * corpus pipelines (CCNet/RefinedWeb dedup paragraphs or lines; this
    * corpus has no line structure, so the unit is d12-style fixed
    * [[DedupChunk]]-token non-overlapping chunks). The FIRST occurrence
    * of each distinct chunk — ordered by (doc_id, chunk_id), the corpus'
    * canonical order — is kept; later occurrences (exact-duplicate docs,
    * repeated segments within a doc) count as duplicates. Per-doc report:
    * chunk counts, duplicate-chunk count, surviving tokens, and the
    * rounded duplicate ratio.
    *
    * Scale shape: one explode (rows × per-doc chunk count), one window
    * shuffle keyed on chunk_text — high-cardinality, uniform (t03's
    * dedup-rank pattern; nothing here is centroid-amplified, so a window
    * is the right tool), then one per-doc aggregation. Linear at any
    * corpus size. */
  def d24ChunkDedup(s: SparkSession, dir: String): DataFrame =
    chunkDedup(Tables.documents(s, dir))

  /** d24's core over any (doc_id, text) relation — exposed so the spec
    * can verify the dedup semantics on a corpus with PLANTED duplicates
    * (the real corpus contains no exact-duplicate documents). */
  private[graft] def chunkDedup(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"chunk_text").orderBy($"doc_id", $"chunk_id")
    docs
      .select($"doc_id", toks(lower($"text")).as("tk"))
      .withColumn("n", size($"tk"))
      .filter($"n" >= 1)
      .select($"doc_id", $"tk",
        explode(expr(s"sequence(0, CAST(ceil(n / $DedupChunk.0D) AS INT) - 1)")).as("chunk_id"))
      .withColumn("chunk_tokens", expr(s"slice(tk, chunk_id * $DedupChunk + 1, $DedupChunk)"))
      .select($"doc_id", $"chunk_id",
        size($"chunk_tokens").as("n_chunk_tokens"),
        array_join($"chunk_tokens", " ").as("chunk_text"))
      .withColumn("occ", row_number().over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"occ" > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when($"occ" === 1, $"n_chunk_tokens").otherwise(0L)).as("kept_tokens"))
      .select($"doc_id", $"n_chunks", $"n_dup_chunks", $"kept_tokens",
        r($"n_dup_chunks".cast("double") / $"n_chunks", 6).as("dup_chunk_ratio"))
      .orderBy($"doc_id")
  }

  val d24Sql: String = {
    val t = toksSql("lower(text)")
    s"""WITH d AS (SELECT doc_id, $t AS tk, len($t) AS n FROM documents
                   WHERE len($t) >= 1),
       c AS (SELECT doc_id, tk,
               unnest(generate_series(0, CAST(ceil(n / $DedupChunk.0) AS INT) - 1)) AS chunk_id
             FROM d),
       ch AS (SELECT doc_id, chunk_id,
           len(list_slice(tk, chunk_id * $DedupChunk + 1, chunk_id * $DedupChunk + $DedupChunk)) AS n_chunk_tokens,
           array_to_string(list_slice(tk, chunk_id * $DedupChunk + 1, chunk_id * $DedupChunk + $DedupChunk), ' ') AS chunk_text
         FROM c),
       oc AS (SELECT doc_id, chunk_id, n_chunk_tokens,
           row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS occ
         FROM ch)
       SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         CAST(sum(CASE WHEN occ = 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
         ${rSql("sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) / count(*)", 6)} AS dup_chunk_ratio
       FROM oc
       GROUP BY doc_id
       ORDER BY doc_id"""
  }

  // --- d28: duplicate-substring spans (ExactSubstr approximation) -------

  private val SubstrK = 8

  /** d28 — duplicate-substring span detection, the token-granular
    * approximation of suffix-array ExactSubstr dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): a token is part of a duplicated span iff it is
    * covered by some [[SubstrK]]-token sliding window whose text occurs
    * in at least TWO DISTINCT documents. (Within-doc repetition is d18's
    * job; chunk-aligned dedup is d24's; this catches cross-doc duplicated
    * spans at arbitrary offsets, which chunking misses.) Per-doc report:
    * token count, duplicated-window starts, covered-token count via
    * interval union, and the rounded duplicated-token ratio.
    *
    * The interval union of the fixed-length windows [p, p+K-1] is computed
    * with one `lead` pass: each start contributes min(K, next_start - p)
    * tokens, the last contributes K — no per-token explode of the coverage.
    *
    * Scale shape: one explode (≈ one row per token), ONE window shuffle
    * keyed on the 8-gram text (high-cardinality, uniform — the cross-doc
    * test is `min(doc_id) ≠ max(doc_id)` over that partition, so no
    * self-join and no second evaluation of the generator), then a per-doc
    * lead + aggregation on the surviving (duplicated) starts only. Linear
    * in corpus size; the 8-gram key space grows with the corpus so the
    * window partitions stay tiny. */
  def d28SubstringDedup(s: SparkSession, dir: String): DataFrame =
    substringDedup(Tables.documents(s, dir))

  /** d28's core over any (doc_id, text) relation — exposed so the spec
    * can plant cross-doc duplicated spans at unaligned offsets and check
    * the coverage arithmetic exactly. */
  private[graft] def substringDedup(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toked = docs
      .select($"doc_id", toks(lower($"text")).as("tk"))
      .withColumn("n", size($"tk"))
      .filter($"n" >= 1)
    val wSh = Window.partitionBy($"sh")
    val wDoc = Window.partitionBy($"doc_id").orderBy($"p")
    val dupStarts = toked
      .filter($"n" >= SubstrK)
      .select($"doc_id", $"tk", explode(expr(s"sequence(1, n - $SubstrK + 1)")).as("p"))
      .select($"doc_id", $"p",
        array_join(expr(s"slice(tk, p, $SubstrK)"), " ").as("sh"))
      .withColumn("dup", min($"doc_id").over(wSh) =!= max($"doc_id").over(wSh))
      .filter($"dup")
      .select($"doc_id", $"p")
    val coverage = dupStarts
      .withColumn("nxt", lead($"p", 1).over(wDoc))
      .withColumn("covered",
        when($"nxt".isNull, lit(SubstrK))
          .otherwise(least(lit(SubstrK), $"nxt" - $"p")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("dup_starts"),
        sum($"covered".cast("long")).as("dup_span_tokens"))
    toked.select($"doc_id", $"n".as("n_tokens"))
      .join(coverage, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"dup_starts", lit(0L)).as("dup_starts"),
        coalesce($"dup_span_tokens", lit(0L)).as("dup_span_tokens"),
        r(coalesce($"dup_span_tokens", lit(0L)).cast("double") / $"n_tokens", 6)
          .as("dup_ratio"))
      .orderBy($"doc_id")
  }

  val d28Sql: String = {
    val t = toksSql("lower(text)")
    val K = SubstrK
    s"""WITH d AS (SELECT doc_id, $t AS tk, len($t) AS n FROM documents
                   WHERE len($t) >= 1),
       sh AS (SELECT doc_id, tk, unnest(generate_series(1, n - $K + 1)) AS p
              FROM d WHERE n >= $K),
       sh2 AS (SELECT doc_id, p,
           array_to_string(list_slice(tk, p, p + $K - 1), ' ') AS sh
         FROM sh),
       fl AS (SELECT doc_id, p,
           min(doc_id) OVER (PARTITION BY sh) <> max(doc_id) OVER (PARTITION BY sh) AS dup
         FROM sh2),
       du AS (SELECT doc_id, p FROM fl WHERE dup),
       cov AS (SELECT doc_id, p,
           lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
         FROM du),
       agg AS (SELECT doc_id, count(*) AS dup_starts,
           CAST(sum(CASE WHEN nxt IS NULL THEN $K
                         ELSE least($K, nxt - p) END) AS BIGINT) AS dup_span_tokens
         FROM cov GROUP BY doc_id)
       SELECT d.doc_id, d.n AS n_tokens,
         CAST(coalesce(a.dup_starts, 0) AS BIGINT) AS dup_starts,
         CAST(coalesce(a.dup_span_tokens, 0) AS BIGINT) AS dup_span_tokens,
         ${rSql("coalesce(a.dup_span_tokens, 0) / d.n", 6)} AS dup_ratio
       FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
       ORDER BY d.doc_id"""
  }

  // --- d30: shingle-set containment pairs (Broder) -----------------------

  private val ContainK = 4
  private val ContainTau = 0.5

  /** d30 — containment-based near-duplicate pairs (Broder 1997, "On the
    * resemblance and containment of documents": C(A,B) =
    * |S(A)∩S(B)| / min(|S(A)|,|S(B)|) over [[ContainK]]-token shingle
    * sets). Containment is the ASYMMETRIC half of the dedup family: a
    * chunk wholly embedded in a larger document scores C = 1 while its
    * Jaccard can be arbitrarily small, so d05/m01 miss it (and on this
    * corpus 19 of the 25 C ≥ ½ pairs cross lang blocks, so d05's
    * blocking would too). Top-500 report by rounded containment.
    *
    * Scale shape — EXACT inverted-index candidate generation (the
    * prefix-filter family, PPJoin's layout): C ≥ τ > 0 implies at least
    * one shared shingle, so candidates = the distinct pairs produced by
    * ONE self-equi-join on the exploded (shingle, doc_id) index — a
    * shuffle on the high-cardinality shingle key, never an all-pairs
    * product. Exact containment is then computed only for candidates
    * (two array joins + one intersect per candidate). Linear in shared-
    * shingle pair count; a pathological hot shingle (k docs → k² pair
    * rows pre-distinct) is the documented skew hazard — at 100 TB you
    * drop shingles with df above a cap first (they cannot push C from
    * below τ on real corpora; m01/d24/d28 are the in-repo linear twins). */
  def d30ContainmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(s, dir))

  /** d30's core over any (doc_id, text) relation — exposed so the spec
    * can plant a chunk-inside-document pair (C = 1, low Jaccard). */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cat = (0 until ContainK).map(j => if (j == 0) "tk[i]" else s"tk[i + $j]")
      .mkString(", ' ', ")
    // cached: the shingle-set table feeds the inverted index AND both
    // sides of the candidate verification join (CLAUDE.md invariant 5)
    val sh = docs
      .select($"doc_id", toks(lower($"text")).as("tk"))
      .filter(size($"tk") >= ContainK)
      .select($"doc_id",
        expr(s"array_distinct(transform(sequence(0, size(tk) - $ContainK), i -> concat($cat)))")
          .as("sh"))
      .withColumn("ns", size($"sh"))
      .cache()
    val idx = sh.select($"doc_id", explode($"sh").as("g"))
    val cands = idx.as("a")
      .join(idx.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = size(array_intersect($"sha", $"shb"))
    cands
      .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sha"), $"ns".as("nsa")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"sh".as("shb"), $"ns".as("nsb")), "doc_b")
      .select($"doc_a", $"doc_b", $"nsa", $"nsb",
        r(inter.cast("double") / least($"nsa", $"nsb"), 6).as("containment"))
      .filter($"containment" >= ContainTau)
      .orderBy($"containment".desc, $"doc_a", $"doc_b")
      .limit(500)
  }

  val d30Sql: String = {
    val t = toksSql("lower(text)")
    val cat = (0 until ContainK).map(j => if (j == 0) "tk[i]" else s"tk[i + $j]")
      .mkString(" || ' ' || ")
    s"""WITH d0 AS (SELECT doc_id, $t AS tk FROM documents
                    WHERE len($t) >= $ContainK),
       d AS (SELECT doc_id,
           list_distinct(list_transform(range(1, len(tk) - ${ContainK - 2}), i -> $cat)) AS sh
         FROM d0),
       ds AS (SELECT doc_id, sh, len(sh) AS ns FROM d),
       idx AS (SELECT doc_id, unnest(sh) AS g FROM ds),
       cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM idx a JOIN idx b ON a.g = b.g AND a.doc_id < b.doc_id),
       sc AS (SELECT doc_a, doc_b, x.ns AS nsa, y.ns AS nsb,
           ${rSql("len(list_intersect(x.sh, y.sh)) / least(x.ns, y.ns)", 6)} AS containment
         FROM cands
         JOIN ds x ON x.doc_id = doc_a
         JOIN ds y ON y.doc_id = doc_b)
       SELECT doc_a, doc_b, nsa, nsb, containment
       FROM sc WHERE containment >= $ContainTau
       ORDER BY containment DESC, doc_a, doc_b
       LIMIT 500"""
  }

  // --- d31: Gopher document-quality rules ---------------------------------

  /** Gopher rule-4 stopword list (Rae et al., arXiv:2112.11446 App. A). */
  private[graft] val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** d31 — Gopher document-quality rules (Rae et al., arXiv:2112.11446,
    * Appendix A — the quality-filter rule set of the Gopher/MassiveText
    * pipeline): the word-level subset meaningful on this single-line
    * corpus — word count in [50, 100000], mean word length in [3, 10],
    * ≥ 80 % of words containing an alphabetic character, and ≥ 2 hits on
    * the Gopher stopword list. The line-level rules (bullet/ellipsis line
    * ratios) are vacuous here (documents are single-line by construction)
    * and are omitted rather than emitted as constant columns.
    *
    * Flags derive from the ROUNDED metrics (the q33 cross-engine parity
    * path: compare after [[Num.r]], so a last-ulp ratio difference can't
    * flip a flag) and `keep` is their conjunction. Scan-local per-document
    * expressions — zero shuffles, embarrassingly parallel at 100 TB; at
    * scale `keep` becomes the pushdown-friendly partition filter of the
    * downstream pipeline (the d13/d23 gate pattern). */
  def d31GopherQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    Tables.documents(s, dir)
      .filter(size(toks($"text")) > 0)
      .select($"doc_id",
        size(t).as("n_words"),
        r(aggregate(t, lit(0L), (a, w) => a + length(w)).cast("double") / size(t), 4)
          .as("mean_word_len"),
        r(size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") / size(t), 6)
          .as("alpha_frac"),
        size(filter(toks(lower($"text")), w => w.isin(GopherStops: _*))).as("stop_hits"))
      .withColumn("f_words", ($"n_words" >= 50 && $"n_words" <= 100000).cast("int"))
      .withColumn("f_word_len", ($"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0).cast("int"))
      .withColumn("f_alpha", ($"alpha_frac" >= 0.8).cast("int"))
      .withColumn("f_stops", ($"stop_hits" >= 2).cast("int"))
      .withColumn("keep",
        ($"f_words" === 1 && $"f_word_len" === 1 && $"f_alpha" === 1 && $"f_stops" === 1)
          .cast("int"))
      .orderBy($"doc_id")
  }

  val d31Sql: String = {
    val t = toksSql("text")
    val tl = toksSql("lower(text)")
    s"""WITH m AS (SELECT doc_id,
         len($t) AS n_words,
         ${rSql(s"CAST(list_sum(list_transform($t, w -> length(w))) AS BIGINT) / len($t)", 4)}
           AS mean_word_len,
         ${rSql(s"len(list_filter($t, w -> regexp_matches(w, '[A-Za-z]'))) / len($t)", 6)}
           AS alpha_frac,
         len(list_filter($tl, w -> w IN (${GopherStops.map(w => s"'$w'").mkString(",")})))
           AS stop_hits
       FROM documents WHERE len($t) > 0)
       SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
         CAST(n_words BETWEEN 50 AND 100000 AS INTEGER) AS f_words,
         CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INTEGER) AS f_word_len,
         CAST(alpha_frac >= 0.8 AS INTEGER) AS f_alpha,
         CAST(stop_hits >= 2 AS INTEGER) AS f_stops,
         CAST(n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
              AND alpha_frac >= 0.8 AND stop_hits >= 2 AS INTEGER) AS keep
       FROM m ORDER BY doc_id"""
  }

  // --- d34: C4 document-quality rules -------------------------------------

  /** d34 deny list (stand-in for C4's "List of Dirty, Naughty … Words"
    * filter — the mechanism, not the full list). */
  private[graft] val C4BadWords = Seq("xxx", "sex", "porn", "viagra")

  /** d34 — C4 rule filter (Raffel et al. 2020, arXiv:1910.10683 §2.2 —
    * the T5/C4 cleaning heuristics; the second canonical ruleset next to
    * d31's Gopher rules): the subset meaningful on this single-line
    * corpus — terminal punctuation (. ! ? "), ≥ 5 words (C4's short-line
    * drop), no "lorem ipsum", no curly brace (code), no deny-list word.
    * All-integer flags, `keep` = conjunction, fully scan-local — zero
    * shuffles, the same pushdown-friendly gate shape as d31/d13.
    * Dropped-as-vacuous here: the javascript-line and 3-sentence page
    * rules (single-line docs), the dedup step (d04/d24/d28 own it). */
  def d34C4Filters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val low = lower($"text")
    Tables.documents(s, dir)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id",
        substring(trim($"text"), -1, 1).isin(".", "!", "?", "\"")
          .cast("int").as("f_terminal"),
        (size(toks($"text")) >= 5).cast("int").as("f_min_words"),
        (!low.contains("lorem ipsum")).cast("int").as("f_lorem"),
        (!$"text".contains("{")).cast("int").as("f_brace"),
        (size(filter(toks(low), w => w.isin(C4BadWords: _*))) === 0)
          .cast("int").as("f_badword"))
      .withColumn("keep",
        ($"f_terminal" * $"f_min_words" * $"f_lorem" * $"f_brace" * $"f_badword"))
      .orderBy($"doc_id")
  }

  val d34Sql: String =
    s"""SELECT doc_id,
         CAST(right(trim(text), 1) IN ('.', '!', '?', '"') AS INTEGER) AS f_terminal,
         CAST(len(${toksSql("text")}) >= 5 AS INTEGER) AS f_min_words,
         CAST(NOT contains(lower(text), 'lorem ipsum') AS INTEGER) AS f_lorem,
         CAST(NOT contains(text, '{') AS INTEGER) AS f_brace,
         CAST(len(list_filter(${toksSql("lower(text)")},
             w -> w IN (${C4BadWords.map(w => s"'$w'").mkString(",")}))) = 0
           AS INTEGER) AS f_badword,
         CAST(right(trim(text), 1) IN ('.', '!', '?', '"')
           AND len(${toksSql("text")}) >= 5
           AND NOT contains(lower(text), 'lorem ipsum')
           AND NOT contains(text, '{')
           AND len(list_filter(${toksSql("lower(text)")},
             w -> w IN (${C4BadWords.map(w => s"'$w'").mkString(",")}))) = 0
           AS INTEGER) AS keep
       FROM documents
       WHERE length(trim(text)) > 0
       ORDER BY doc_id"""

  // --- d38: readability scoring (Flesch / Flesch–Kincaid) -----------------

  /** Shared Flesch algebra over (wd, st, sy) double columns — one text for
    * `expr` and the oracle so the IEEE order matches. */
  private val FleschExpr = "206.835 - 1.015 * (wd / st) - 84.6 * (sy / wd)"
  private val FkGradeExpr = "0.39 * (wd / st) + 11.8 * (sy / wd) - 15.59"

  /** d38 — readability scoring: Flesch reading ease + Flesch–Kincaid
    * grade level (Kincaid et al. 1975), the classic audience-level
    * text-quality signal next to d02's surface heuristics and d31/d34's
    * rule gates. Sentences = runs of terminal punctuation, syllables =
    * vowel-group runs (the standard regex approximation; identical under
    * Java regex and RE2 — d07's character-class precedent), both clamped
    * to ≥1 so the ratios are total. The ease band derives from the
    * ROUNDED score (q33 parity path). Fully scan-local: zero shuffles
    * before the output sort, linear at any corpus size. */
  def d38Readability(s: SparkSession, dir: String): DataFrame =
    readability(Tables.documents(s, dir))

  /** d38's core over an explicit (doc_id, text) relation — exposed so the
    * spec can hand-compute the scores of a planted sentence. */
  private[graft] def readability(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id",
        size(toks($"text")).as("n_words"),
        greatest(lit(1), size(regexp_extract_all($"text", lit("[.!?]+"), lit(0))))
          .as("n_sentences"),
        greatest(lit(1), size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0))))
          .as("n_syllables"))
      .filter($"n_words" > 0)
      .withColumn("wd", $"n_words".cast("double"))
      .withColumn("st", $"n_sentences".cast("double"))
      .withColumn("sy", $"n_syllables".cast("double"))
      .select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
        r(expr(FleschExpr), 4).as("flesch"),
        r(expr(FkGradeExpr), 4).as("fk_grade"))
      .withColumn("band",
        when($"flesch" >= 90, "very_easy").when($"flesch" >= 70, "easy")
          .when($"flesch" >= 50, "medium").when($"flesch" >= 30, "hard")
          .otherwise("very_hard"))
      .orderBy($"doc_id")
  }

  val d38Sql: String =
    s"""WITH m AS (SELECT doc_id,
         len(${toksSql("text")}) AS n_words,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
         greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS n_syllables
       FROM documents),
       sc AS (SELECT doc_id, n_words, n_sentences, n_syllables,
         CAST(n_words AS DOUBLE) AS wd, CAST(n_sentences AS DOUBLE) AS st,
         CAST(n_syllables AS DOUBLE) AS sy
       FROM m WHERE n_words > 0)
       SELECT doc_id, n_words, n_sentences, n_syllables,
         ${rSql(FleschExpr, 4)} AS flesch, ${rSql(FkGradeExpr, 4)} AS fk_grade,
         CASE WHEN ${rSql(FleschExpr, 4)} >= 90 THEN 'very_easy'
              WHEN ${rSql(FleschExpr, 4)} >= 70 THEN 'easy'
              WHEN ${rSql(FleschExpr, 4)} >= 50 THEN 'medium'
              WHEN ${rSql(FleschExpr, 4)} >= 30 THEN 'hard'
              ELSE 'very_hard' END AS band
       FROM sc ORDER BY doc_id"""

  // --- d42: dedup threshold sweep (curation tuning curve) -------------------

  /** d42's Jaccard threshold grid — every value ≥ the 0.5 floor the d05
    * pair table is built at, so one pair pass serves the whole sweep. */
  private[graft] val SweepThetas = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** d42 — dedup threshold sweep: how many near-dup pairs and how many
    * flagged documents survive at Jaccard θ ∈ [[SweepThetas]] — the
    * tuning curve a curation pipeline reads before committing to a
    * threshold (aggressive θ=0.5 vs conservative θ=0.9 trades recall
    * against false merges). ONE d05 pair pass feeds all five thresholds
    * (pairs are computed once and fanned out against a 5-row broadcast
    * grid); flagged-document counts are distinct doc ids over qualifying
    * pairs; absent thresholds zero-fill so the curve is always 5 rows.
    *
    * Scale shape: the pair source is d05's documented exact baseline
    * (scale twin m01/d11); everything downstream of the pair table is
    * pair-cardinality × 5. */
  def d42DedupSweep(s: SparkSession, dir: String): DataFrame =
    sweepOver(nearDupPairs(s, dir), Tables.documents(s, dir))

  /** d45 — the same θ sweep over d11's LSH candidate pairs
    * ([[DedupLsh.lshPairs]]: capped band buckets → exact shingle-Jaccard
    * verification ≥ 0.5): the tuning curve computed on the composition
    * that actually runs at 100 TB (d11 slope 0.62–0.75 measured vs d05's
    * 3.27–3.40 quadratic edge source). d42 stays as the exact-baseline
    * differential; note the two curves count DIFFERENT similarity spaces
    * (d05's token Jaccard vs the shingle Jaccard LSH verifies), so they
    * agree in shape, not in absolute counts. */
  def d45DedupSweepLsh(s: SparkSession, dir: String): DataFrame =
    sweepOver(DedupLsh.lshPairs(s, dir), Tables.documents(s, dir))

  /** The shared sweep tail over a (doc_a, doc_b, jaccard ≥ 0.5) pair frame:
    * ONE pair pass fans out against the broadcast 5-row θ grid; pair and
    * flagged-document counts per θ, zero-filled so the curve is always
    * 5 rows. Everything downstream of the pair table is pair-cardinality
    * × 5 at any scale. */
  private def sweepOver(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val th = SweepThetas.map(Tuple1.apply).toDF("theta")
    val pr = pairs.cache() // one pair pass for the whole grid
    val cand = pr.crossJoin(broadcast(th))
      .filter($"jaccard" >= $"theta")
      .select($"theta", $"doc_a", $"doc_b")
      .cache() // feeds the pair count and the distinct-doc count
    val np = cand.groupBy($"theta").agg(count(lit(1)).as("n_pairs"))
    val nd = cand.select($"theta", explode(array($"doc_a", $"doc_b")).as("d"))
      .distinct()
      .groupBy($"theta").agg(count(lit(1)).as("n_docs_flagged"))
    val tot = docs.agg(count(lit(1)).as("n_docs"))
    th.join(np, Seq("theta"), "left").join(nd, Seq("theta"), "left")
      .crossJoin(broadcast(tot))
      .select($"theta", coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs_flagged", lit(0L)).as("n_docs_flagged"),
        r(coalesce($"n_docs_flagged", lit(0L)).cast("double") /
          $"n_docs".cast("double"), 6).as("flagged_share"))
      .orderBy($"theta")
  }

  /** The sweep tail in SQL, appended after a CTE block ending in
    * pr(doc_a, doc_b, jaccard ≥ 0.5) — shared by d42 (exact d05 pairs)
    * and d45 ([[DedupLsh.pairCtesOver]]'s LSH pairs; `swp` not `cand`
    * because that block already binds `cand`). */
  private val sweepTailSql: String = {
    val values = SweepThetas.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
    s"""th AS (SELECT * FROM (VALUES $values) v(theta)),
       swp AS MATERIALIZED (SELECT theta, doc_a, doc_b
         FROM pr CROSS JOIN th WHERE jaccard >= theta),
       np AS (SELECT theta, count(*) AS n_pairs FROM swp GROUP BY theta),
       nd AS (SELECT theta, count(*) AS n_docs_flagged FROM
         (SELECT DISTINCT theta, d FROM (
            SELECT theta, doc_a AS d FROM swp
            UNION ALL SELECT theta, doc_b FROM swp) u) z
       GROUP BY theta),
       tot AS (SELECT count(*) AS n_docs FROM documents)
       SELECT th.theta, coalesce(np.n_pairs, 0) AS n_pairs,
         coalesce(nd.n_docs_flagged, 0) AS n_docs_flagged,
         ${rSql("CAST(coalesce(nd.n_docs_flagged, 0) AS DOUBLE) / CAST(tot.n_docs AS DOUBLE)", 6)} AS flagged_share
       FROM th LEFT JOIN np ON np.theta = th.theta
       LEFT JOIN nd ON nd.theta = th.theta CROSS JOIN tot
       ORDER BY th.theta"""
  }

  val d42Sql: String =
    s"""WITH d AS MATERIALIZED (SELECT doc_id, lang,
         list_distinct(${toksSql("text")}) AS ts FROM documents),
       pr AS MATERIALIZED (SELECT doc_a, doc_b, jaccard FROM (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ${rSql("len(list_intersect(a.ts, b.ts)) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))", 6)} AS jaccard
         FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id) p
       WHERE jaccard >= 0.5),
       $sweepTailSql"""

  val d45Sql: String =
    s"""WITH ${DedupLsh.pairCtesOver("documents")},
       $sweepTailSql"""

  // --- d44: character-entropy gibberish filter -----------------------------

  /** d44's alphabet: the 36 alphanumerics that survive the fold. */
  private val EntChars: Seq[Char] = ('a' to 'z') ++ ('0' to '9')

  /** Per-symbol count / entropy-term / distinct / argmax texts over the
    * pre-projected count columns c0..c35 and total n — shared between
    * expr() (Spark) and the oracle, so every ln and + evaluates in the
    * identical textual order. */
  private def entCntT(i: Int): String = {
    val c = EntChars(i)
    s"(length(ft) - length(replace(ft, '$c', '')))"
  }
  private val entTermT = EntChars.indices.map(i =>
    s"(CASE WHEN c$i > 0 THEN CAST(c$i AS DOUBLE) * ln(CAST(c$i AS DOUBLE)) ELSE 0.0 END)")
    .mkString(" + ")
  private val entT =
    s"CASE WHEN n = 0 THEN 0.0 ELSE ln(CAST(n AS DOUBLE)) - ($entTermT) / CAST(n AS DOUBLE) END"
  private val entDistT = "(" + EntChars.indices.map(i =>
    s"(CASE WHEN c$i > 0 THEN 1 ELSE 0 END)").mkString(" + ") + ")"
  private val entTopT = {
    val g = "greatest(" + EntChars.indices.map(i => s"c$i").mkString(", ") + ")"
    s"CASE WHEN n = 0 THEN 0.0 ELSE CAST($g AS DOUBLE) / CAST(n AS DOUBLE) END"
  }

  /** d44 — character-entropy gibberish filter: Shannon entropy (nats) of
    * the per-doc alphanumeric character distribution, via the exact-count
    * identity H = ln(n) − (Σ c·ln c)/n — every ln argument an exact
    * integer (d10's ln-parity family), so the score is bit-portable.
    * Low-entropy text ("aaaa…", keyboard mashing, base64-ish runs with a
    * dominant symbol) is the one failure mode length/stopword heuristics
    * (d02) and word-level rules (d31/d34) cannot see; real English sits
    * near 2.8–3.1 nats, so the flag trips on H < 2.0 or a single symbol
    * holding > 40 % of the mass (rounded metrics, so both engines gate
    * identically).
    *
    * Scale shape: entirely scan-local — one projection computes all 36
    * counts as length-difference expressions (no explode, no shuffle
    * beyond the final sort); linear in corpus bytes, embarrassing to
    * parallelize at 100 TB. */
  def d44CharEntropy(s: SparkSession, dir: String): DataFrame =
    charEntropy(Tables.documents(s, dir))

  /** d44's core over an explicit (doc_id, text) relation — exposed so the
    * spec can plant strings with hand-computed entropy. */
  private[graft] def charEntropy(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cnts = docs
      .select($"doc_id",
        regexp_replace(lower($"text"), "[^a-z0-9]", "").as("ft"))
      .select((Seq($"doc_id", length($"ft").cast("bigint").as("n")) ++
        EntChars.indices.map(i => expr(entCntT(i)).cast("bigint").as(s"c$i"))): _*)
    cnts
      .select($"doc_id", $"n".as("n_alnum"),
        expr(entDistT).cast("bigint").as("distinct_chars"),
        r(expr(entT), 6).as("entropy"),
        r(expr(entTopT), 6).as("top_share"))
      .withColumn("is_gibberish",
        ($"entropy" < 2.0 || $"top_share" > 0.4).cast("int"))
      .orderBy($"doc_id")
  }

  val d44Sql: String = {
    val ccols = EntChars.indices.map(i =>
      s"CAST(${entCntT(i)} AS BIGINT) AS c$i").mkString(",\n           ")
    s"""WITH f AS (SELECT doc_id,
           regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS ft
         FROM documents),
       cnts AS (SELECT doc_id, CAST(length(ft) AS BIGINT) AS n,
           $ccols
         FROM f),
       sc AS (SELECT doc_id, n AS n_alnum,
           CAST($entDistT AS BIGINT) AS distinct_chars,
           ${rSql(entT, 6)} AS entropy,
           ${rSql(entTopT, 6)} AS top_share
         FROM cnts)
       SELECT doc_id, n_alnum, distinct_chars, entropy, top_share,
         CAST(entropy < 2.0 OR top_share > 0.4 AS INTEGER) AS is_gibberish
       FROM sc
       ORDER BY doc_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d44_char_entropy" -> (d44CharEntropy _),
    "d42_dedup_sweep" -> (d42DedupSweep _),
    "d45_dedup_sweep_lsh" -> (d45DedupSweepLsh _),
    "d54_sorted_neighborhood" -> (d54SortedNeighborhood _),
    "d55_snm_audit" -> (d55SnmAudit _),
    "d56_snm_audit_sample" -> (d56SnmAuditSample _),
    "d61_unigram_fertility" -> (d61UnigramFertility _),
    "d57_unigram_train" -> (d57UnigramTrain _),
    "d38_readability" -> (d38Readability _),
    "d34_c4_filters" -> (d34C4Filters _),
    "d31_gopher_quality" -> (d31GopherQuality _),
    "d32_bpe_encode" -> (d32BpeEncode _),
    "d47_bpe_fertility" -> (d47BpeFertility _),
    "d48_dedup_impact" -> (d48DedupImpact _),
    "d49_incremental_dedup" -> (d49IncrementalDedup _),
    "d58_cdf_dedup" -> (d58CdfDedup _),
    "d60_exact_substrings" -> (d60ExactSubstrings _),
    "d59_winnowing" -> (d59Winnowing _),
    "d50_boilerplate" -> (d50Boilerplate _),
    "d21_cms_heavy_hitters" -> (d21CmsHeavyHitters _),
    "d24_chunk_dedup" -> (d24ChunkDedup _),
    "d28_substring_dedup" -> (d28SubstringDedup _),
    "d30_containment_pairs" -> (d30ContainmentPairs _),
    "d12_chunk_split" -> (d12ChunkSplit _),
    "d01_token_stats" -> (d01TokenStats _),
    "d02_quality_score" -> (d02QualityScore _),
    "d03_lang_id" -> (d03LangId _),
    "d04_exact_dedup" -> (d04ExactDedup _),
    "d05_jaccard_pairs" -> (d05JaccardPairs _),
    "d06_fingerprint" -> (d06Fingerprint _),
    "d07_bpe_tokens" -> (d07BpeTokens _),
    "d27_bpe_train" -> (d27BpeTrain _))

  val oracles: Map[String, String] = Map(
    "d44_char_entropy" -> d44Sql,
    "d42_dedup_sweep" -> d42Sql,
    "d45_dedup_sweep_lsh" -> d45Sql,
    "d54_sorted_neighborhood" -> d54Sql,
    "d55_snm_audit" -> d55Sql,
    "d56_snm_audit_sample" -> d56Sql,
    "d61_unigram_fertility" -> d61Sql,
    "d57_unigram_train" -> d57Sql,
    "d38_readability" -> d38Sql,
    "d34_c4_filters" -> d34Sql,
    "d31_gopher_quality" -> d31Sql,
    "d32_bpe_encode" -> d32Sql,
    "d47_bpe_fertility" -> d47Sql,
    "d48_dedup_impact" -> d48Sql,
    "d49_incremental_dedup" -> d49Sql,
    "d58_cdf_dedup" -> d58Sql,
    "d60_exact_substrings" -> d60Sql,
    "d59_winnowing" -> d59Sql,
    "d50_boilerplate" -> d50Sql,
    "d21_cms_heavy_hitters" -> d21Sql,
    "d24_chunk_dedup" -> d24Sql,
    "d28_substring_dedup" -> d28Sql,
    "d30_containment_pairs" -> d30Sql,
    "d12_chunk_split" -> d12Sql,
    "d01_token_stats" -> d01Sql,
    "d02_quality_score" -> d02Sql,
    "d03_lang_id" -> d03Sql,
    "d04_exact_dedup" -> d04Sql,
    "d05_jaccard_pairs" -> d05Sql,
    "d06_fingerprint" -> d06Sql,
    "d07_bpe_tokens" -> d07Sql,
    "d27_bpe_train" -> d27Sql)
}
