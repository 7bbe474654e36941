package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Num._
import TextOps.toksSql

/** Sketch-based near-duplicate detection over `documents` — the 100 TB
  * scale path for the exact quadratic Jaccard in [[TextOps.d05JaccardPairs]]
  * (BASELINE.json north-star: MinHash+LSH, SimHash).
  *
  * Features are word 3-gram shingles, not unigrams: this corpus has a
  * 31-token vocabulary, and a typical document covers ~80% of it, so every
  * unigram sketch collapses (nearly all docs share the argmin token of
  * each hash → measured 1,780-doc LSH buckets → a quadratic candidate
  * join). Shingling restores a large, sparse feature space — the standard
  * MinHash construction (shingle → minhash → band → bucket-join).
  *
  * Every hash in this path is PORTABLE: a 60-bit (or 2×32-bit) integer
  * parsed from the hex md5 of the input, computable identically in Spark
  * (`conv(substring(md5(x),…),16,10)`) and DuckDB
  * (`('0x'||substring(md5(x),…))::BIGINT`). That makes the entire sketch
  * pipeline — shingles → minhash signatures → band buckets → capped
  * candidate join → exact verify, and the simhash bit votes — fully
  * oracle-checkable, unusual for LSH operators (they are usually excused
  * from differential testing as "engine-specific hashing"). DedupLshSpec
  * additionally carries the hash-agnostic properties (determinism,
  * exact-dup guarantee, recall on a crafted corpus, O(N·cap) candidate
  * bound). xxhash64 would be ~2-3× cheaper per shingle but is not
  * expressible in DuckDB; md5 stays whole-stage-codegen'd and scan-local,
  * so the scale shape is unchanged.
  *
  * Scale shape: signatures are scan-local per-document expression work
  * (higher-order functions, whole-stage codegen, no UDFs). Candidate
  * generation explodes each doc into BANDS rows and shuffles once on the
  * (band, band-hash) key. Verification joins candidates back to shingle
  * sets and computes exact Jaccard only for the candidate set — O(dups),
  * not O(n²).
  */
object DedupLsh {

  private val NumHashes = 32
  // 4 bands × 8 rows: P(candidate) = 1-(1-j^8)^4 — near 1 for j ≥ 0.9,
  // negligible below j ≈ 0.5; j=1 pairs collide on every band (the
  // exact-dup guarantee DedupLshSpec pins).
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands
  private val P = 2147483647L // 2^31 − 1 (prime)
  private val SegBucketCap = 128
  // per-(band, bh) membership cap for minhash candidate generation — the
  // same degenerate-bucket guard SegBucketCap provides for simhash
  // (spec-visible: DedupLshSpec pins the O(N·cap) candidate bound)
  private[graft] val BandBucketCap = 128

  /** Portable 60-bit hash: both engines parse the first 15 hex chars of
    * md5(s) as an integer (15, not 16, so the value fits signed int64 with
    * headroom for the affine permutations). Spark's conv and DuckDB's
    * '0x'-cast agree exactly; md5-of-utf8 parity is already proven by the
    * oracle-green d04. */
  private[graft] def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private[graft] def h60Sql(e: String): String =
    s"('0x' || substring(md5($e), 1, 15))::BIGINT"

  /** (doc_id, text) → (doc_id, sh): word 3-gram shingles (order-sensitive,
    * distinct), from the raw token stream; docs shorter than 3 tokens
    * contribute their whole text as one shingle. Public for spec use on
    * crafted corpora. */
  def shingleDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", filter(split(trim(col("text")), "\\s+"), t => t =!= ""))
      .withColumn("sh", when(size(col("tk")) >= 3,
        array_distinct(expr(
          "transform(sequence(0, size(tk) - 3), i -> concat(tk[i], ' ', tk[i + 1], ' ', tk[i + 2]))")))
        .otherwise(array(concat_ws(" ", col("tk")))))
      .select(col("doc_id"), col("sh"))

  /** docs(doc_id, sh: array<string>) — shingle sets of the corpus.
    * Cached: a downstream explode/generator re-evaluates its child per
    * OUTPUT row, so an uncached shingle expression is recomputed |sh|
    * times per document (measured 8.6 s vs 0.3 s at sf0.1). */
  private def shingled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shingleDocs(Tables.documents(s, dir).select($"doc_id", $"text")).cache()
  }

  /** Signature + per-band bucket hashes for every document.
    *
    * Shaped like [[simHash]] for codegen: explode shingles, hash once,
    * then 32 MIN aggregates of the affine permutations in one
    * whole-stage-codegen'd hash aggregate — the array_min(transform(...))
    * form evaluates 32·|sh| interpreted lambdas per doc instead
    * (higher-order functions never enter codegen). Values are identical:
    * min over rows of pmod(a_j·pmod(h,P)+b_j, P) per doc. */
  private def withSignature(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), explode(col("sh")).as("t"))
      .withColumn("h", pmod(h60(col("t")), lit(P)))
    val mins = (0 until NumHashes).map { j =>
      min(pmod(lit(2L * j + 1L) * col("h") + lit(j * 7919L + 13L), lit(P))).as(s"s$j")
    }
    val sums = hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandCols = (0 until Bands).map { bnd =>
      val parts = (0 until RowsPerBand).map(r => col(s"s${bnd * RowsPerBand + r}").cast("string"))
      struct(lit(bnd).as("band"), h60(concat_ws(":", parts: _*)).as("bh"))
    }
    sums.withColumn("bands", array(bandCols: _*))
  }

  /** (doc_id, band, bh) bucket rows for every document. */
  private[operators] def bucketsOf(docs: DataFrame): DataFrame =
    withSignature(docs)
      .select(col("doc_id"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))

  /** Unsorted/unlimited MinHash-LSH pair set over (doc_id, sh): candidates
    * share ≥1 band, each candidate exact-verified with shingle Jaccard
    * ≥ 0.5. Columns (doc_a, doc_b, jaccard). The shared edge generator for
    * m01's report and the LSH-fed cluster builder
    * ([[Corpus.d11LshClusters]]). */
  def minHashPairsAll(docs0: DataFrame): DataFrame = {
    // Cache the shingle sets and the (tiny) sketch table: both feed two
    // plan branches (self-join sides / verify join), and without a
    // materialization barrier Catalyst inlines the whole shingle pipeline
    // into all 32 minhash expressions per branch — a plan-size explosion
    // (measured: 45× slowdown at sf0.1). Sketches are O(n_docs · 24 B):
    // cacheable at any corpus scale.
    val docs = docs0.cache()
    val cands = lshCandidatePairs(docs)
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("ta"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("tb"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    val uni = size(col("ta")) + size(col("tb")) - inter
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("jaccard", r(inter.cast("double") / uni, 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Capped-bucket LSH candidate pairs over CACHED (doc_id, sh) — the
    * shared edge source for Jaccard verification ([[minHashPairsAll]],
    * m01/d11) and edit-distance verification (d51).
    *
    * Each (band, bh) bucket is capped at its [[BandBucketCap]] lowest
    * doc_ids: a degenerate bucket (e.g. near-empty docs all sharing one
    * shingle) otherwise goes quadratic in the self-join — the one
    * unbounded term in this plan at 100 TB. Recall bound is explicit and
    * documented: a true pair is missed only if BOTH docs fall outside
    * the cap in EVERY band they co-collide in (exact dups collide in all
    * 4 bands). */
  private[graft] def lshCandidatePairs(docs: DataFrame): DataFrame = {
    val wB = Window.partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
    val buckets = bucketsOf(docs)
      .withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= BandBucketCap).drop("rnk")
      .cache()
    buckets.as("x")
      .join(buckets.as("y"), col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Top-500 report form of [[minHashPairsAll]] (spec + driver surface). */
  def minHashPairs(docs0: DataFrame): DataFrame =
    minHashPairsAll(docs0)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(500)

  /** m01 — shingle-MinHash LSH near-dup pairs over documents. */
  def m01MinHashPairs(s: SparkSession, dir: String): DataFrame =
    minHashPairs(shingled(s, dir))

  /** Unlimited LSH pair set over the documents table — the bucketed
    * (scale-path) edge source for [[Corpus.d11LshClusters]]. */
  def lshPairs(s: SparkSession, dir: String): DataFrame =
    minHashPairsAll(shingled(s, dir))

  /** d51's edit-distance comparison window: ASCII-printable-projected
    * 200-char prefixes. The projection makes the two engines' levenshtein
    * agree BY CONSTRUCTION (DuckDB's is byte-level, Spark's is
    * codepoint-level — identical only on ASCII input), and the prefix cap
    * bounds the O(len²) DP per pair at any document size. */
  private val EditPrefix = 200

  /** d51 — edit-distance verification of the LSH candidate pairs: the
    * character-granular near-dup verifier (Jaccard over 3-gram shingles
    * is blind to WHERE edits fall and over-penalizes short docs; edit
    * similarity 1 − lev/max(len) reads the actual revision distance —
    * the fuzzy-dedup verifier used when near-dups are EDITS of each
    * other, not remixes). Candidates come from the SAME capped-bucket
    * LSH pass as m01/d11 ([[lshCandidatePairs]] — never all pairs), each
    * verified with one levenshtein over the [[EditPrefix]]-char
    * ASCII-projected prefixes; top-500 by similarity, total-order
    * ranked.
    *
    * Scale shape: the m01 candidate plan plus one O(prefix²) scan-local
    * DP per candidate — cost ∝ candidates, never corpus². */
  def d51EditDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    editDedup(Tables.documents(s, dir).select($"doc_id", $"text"))
  }

  /** d51's core over (doc_id, text) — exposed so the spec can plant an
    * exact duplicate and a one-edit revision. */
  private[graft] def editDedup(docs0: DataFrame): DataFrame = {
    val s = docs0.sparkSession
    import s.implicits._
    val cands = lshCandidatePairs(shingleDocs(docs0).cache())
    val nt = docs0.select($"doc_id",
      substring(regexp_replace($"text", "[^\\x20-\\x7e]", ""), 1, EditPrefix)
        .as("nx"))
      .cache() // both sides of the pair join
    cands
      .join(nt.select($"doc_id".as("doc_a"), $"nx".as("na")), "doc_a")
      .join(nt.select($"doc_id".as("doc_b"), $"nx".as("nb")), "doc_b")
      .withColumn("lev", levenshtein($"na", $"nb").cast("long"))
      .withColumn("lmax", greatest(length($"na"), length($"nb")))
      .select($"doc_a", $"doc_b", $"lev",
        when($"lmax" === 0, 1.0).otherwise(
          r(lit(1.0) - $"lev".cast("double") / $"lmax".cast("double"), 6))
          .as("edit_sim"))
      .orderBy(desc_nulls_last("edit_sim"), col("doc_a"), col("doc_b"))
      .limit(500)
  }

  lazy val d51Sql: String =
    s"""WITH ${candCtesOver("documents")},
       nt AS (SELECT doc_id,
           substring(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'), 1, $EditPrefix) AS nx
         FROM documents),
       pv AS (SELECT doc_a, doc_b,
           CAST(levenshtein(a.nx, b.nx) AS BIGINT) AS lev,
           greatest(length(a.nx), length(b.nx)) AS lmax
         FROM cand JOIN nt a ON a.doc_id = cand.doc_a
                   JOIN nt b ON b.doc_id = cand.doc_b)
       SELECT doc_a, doc_b, lev,
         CASE WHEN lmax = 0 THEN CAST(1.0 AS DOUBLE)
              ELSE ${rSql("1.0 - CAST(lev AS DOUBLE) / CAST(lmax AS DOUBLE)", 6)}
         END AS edit_sim
       FROM pv ORDER BY edit_sim DESC NULLS LAST, doc_a, doc_b LIMIT 500"""

  /** d53 — NEAR-dup train→test leakage over the s03 hash split: test
    * docs (h = 9) with at least one verified LSH near-dup (jaccard ≥
    * 0.5) in the train split (h ≤ 7). d35 audits EXACT 5-gram overlap;
    * paraphrased or lightly-edited duplicates slip past gram membership
    * but not past shingle Jaccard — this is the leakage mode SemDeDup/
    * dedup-before-split exists to prevent, reported per leaked test doc
    * with its match count and best (jaccard, train doc). Pairs come
    * from the SAME m01/d11 pair pass ([[lshPairs]]); split membership
    * is two scan-local hash joins.
    *
    * Scale shape: the m01 candidate plan + two doc-keyed joins + one
    * leaked-doc aggregation — nothing new shuffles at corpus size. */
  def d53NeardupLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = Tables.documents(s, dir)
      .select($"doc_id", (h60($"doc_id".cast("string")) % 10).as("h"))
    neardupLeakage(lshPairs(s, dir), sp)
  }

  /** d53's core over explicit pairs (doc_a, doc_b, jaccard) and split
    * memberships (doc_id, h) — exposed for the planted-leak spec. */
  private[graft] def neardupLeakage(pairs: DataFrame, sp: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("h").as("ha")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("h").as("hb")), "doc_b")
      .filter(($"ha" === 9 && $"hb" <= 7) || ($"hb" === 9 && $"ha" <= 7))
      .select(when($"ha" === 9, $"doc_a").otherwise($"doc_b").as("test_doc"),
        when($"ha" === 9, $"doc_b").otherwise($"doc_a").as("train_doc"),
        $"jaccard")
      .groupBy($"test_doc")
      .agg(count(lit(1)).as("n_train_matches"),
        max(struct($"jaccard".as("j"), (-$"train_doc").as("nt"))).as("b"))
      .select($"test_doc", $"n_train_matches",
        $"b.j".as("best_jaccard"), (-$"b.nt").as("best_train_doc"))
      .orderBy($"test_doc")
  }

  lazy val d53Sql: String =
    s"""WITH ${pairCtesOver("documents")},
       hs AS (SELECT doc_id, ${h60Sql("doc_id::VARCHAR")} % 10 AS h
         FROM documents),
       cx AS (SELECT
           CASE WHEN a.h = 9 THEN pr.doc_a ELSE pr.doc_b END AS test_doc,
           CASE WHEN a.h = 9 THEN pr.doc_b ELSE pr.doc_a END AS train_doc,
           jaccard
         FROM pr JOIN hs a ON a.doc_id = pr.doc_a
                 JOIN hs b ON b.doc_id = pr.doc_b
         WHERE (a.h = 9 AND b.h <= 7) OR (b.h = 9 AND a.h <= 7)),
       ag AS (SELECT test_doc, CAST(count(*) AS BIGINT) AS n_train_matches
         FROM cx GROUP BY test_doc),
       bs AS (SELECT test_doc, jaccard AS best_jaccard,
           train_doc AS best_train_doc
         FROM (SELECT test_doc, jaccard, train_doc, row_number() OVER (
             PARTITION BY test_doc
             ORDER BY jaccard DESC NULLS LAST, train_doc ASC) AS rn
           FROM cx) z WHERE rn = 1)
       SELECT test_doc, n_train_matches, best_jaccard, best_train_doc
       FROM ag JOIN bs USING (test_doc)
       ORDER BY test_doc"""

  /** Core 64-bit SimHash over (doc_id, sh): bit j is set iff at least half
    * the shingle hashes have bit j set (the sign of the ±1 vote sum).
    *
    * Shaped for codegen: nested higher-order lambdas (aggregate inside
    * transform) are interpreted in Spark — 64 × |sh| closure evaluations
    * per document measured ~4× slower than this explode → 64 conditional
    * SUMs (one whole-stage-codegen'd hash aggregate) → bitwise reassembly. */
  def simHash(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), size(col("sh")).as("n_shingles"),
      explode(col("sh")).as("t"))
      // portable 64-bit hash assembled from two 32-bit md5 hex parses
      // (bits 0-31 ← hex chars 1-8, bits 32-63 ← chars 9-16); shiftleft
      // wraps into the sign bit in Java semantics, which is fine — only
      // the bit pattern matters, and the oracle never assembles h at all
      // (it votes on the two halves directly)
      .withColumn("hx", md5(col("t")))
      .withColumn("h",
        shiftleft(conv(substring(col("hx"), 9, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(col("hx"), 1, 8), 16, 10).cast("long")))
      .drop("hx")
    // 16 packed sums, four 16-bit counter lanes each (lane k of s_j counts
    // bit j+16k): 64 separate SUMs overflow the codegen method-size limit
    // and fall back to interpreted evaluation (~4× slower, measured).
    // Lanes can't carry into each other while counts stay ≤ 65535.
    val lanes = lit(0x0001000100010001L)
    val bitSums = (0 until 16).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lanes)).as(s"s$j"))
    val sums = hashed.groupBy(col("doc_id"), col("n_shingles"))
      .agg(bitSums.head, bitSums.tail: _*)
    // vote_j = 2·S_j − n ≥ 0  ⇔  2·S_j ≥ n (matches the ±1-sum sign rule)
    val simhash = (0 until 64).map { j =>
      val sj = shiftright(col(s"s${j % 16}"), 16 * (j / 16)).bitwiseAND(lit(0xFFFFL))
      shiftleft(when(sj * 2 >= col("n_shingles"), lit(1L)).otherwise(lit(0L)), j)
    }.reduce(_ bitwiseOR _)
    sums.select(col("doc_id"), col("n_shingles"), simhash.as("simhash"))
  }

  /** m02 — SimHash signatures for every document. Identical texts ⇒
    * identical signatures; near texts ⇒ small Hamming distance. */
  def m02SimHash(s: SparkSession, dir: String): DataFrame =
    simHash(shingled(s, dir)).orderBy(col("doc_id"))

  /** Core SimHash pairing: 16-bit segment blocking (pigeonhole: Hamming ≤ 3
    * ⇒ some segment identical), exact Hamming ≤ 6 filter. Each segment
    * bucket is capped at its [[SegBucketCap]] lowest doc_ids — an explicit
    * (documented) recall bound against degenerate buckets; the
    * top-of-output (smallest hamming, smallest ids) is unaffected. */
  def simHashPairs(docs: DataFrame): DataFrame = {
    // cached for the same plan-explosion reason as minHashPairs
    val sigs = simHash(docs).select(col("doc_id"), col("simhash")).cache()
    val segs = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("simhash"), k * 16).bitwiseAND(lit(0xFFFFL))): _*)).as(Seq("seg_idx", "seg")))
    val wB = Window.partitionBy(col("seg_idx"), col("seg")).orderBy(col("doc_id"))
    val capped = segs.withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= SegBucketCap).drop("rnk")
    // hamming-filter BEFORE the dedup: bit_count is a scan-local ALU op
    // while distinct is a shuffle — filtering first shrinks the exchange
    // to only qualifying pairs instead of every cross-segment collision
    // (a pair can collide in up to 4 segments; measured 7.5 s → ~3 s)
    capped.as("x")
      .join(capped.as("y"), col("x.seg_idx") === col("y.seg_idx") && col("x.seg") === col("y.seg") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(500)
  }

  /** m03 — SimHash near-dup pairs over documents. */
  def m03SimHashPairs(s: SparkSession, dir: String): DataFrame =
    simHashPairs(shingled(s, dir))

  /** m04 — MinHash accuracy report (the sketch-accuracy twin of q40/d21
    * for set similarity): for every capped LSH candidate pair, the
    * signature-agreement estimate (matching components / 32 — E[est] = J,
    * Broder 1997) next to the exact shingle Jaccard and the absolute
    * error, so the sketch's quality is visible per pair. Reuses the m01
    * sketch caches (one signature pass, capped bucket self-join); the
    * extra work over m01 is one 32-column equality sum per candidate.
    * Estimates are multiples of 1/32 (exact binary) → r6 is exact. */
  def m04JaccardEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = shingled(s, dir)
    val sig = withSignature(docs).cache()
    val wB = Window.partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
    val buckets = sig
      .select(col("doc_id"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
      .withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= BandBucketCap).drop("rnk")
    val cands = buckets.as("x")
      .join(buckets.as("y"), col("x.band") === col("y.band") &&
        col("x.bh") === col("y.bh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sa = sig.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(j => col(s"s$j").as(s"a$j")): _*)
    val sb = sig.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(j => col(s"s$j").as(s"b$j")): _*)
    val agree = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val ja = docs.select(col("doc_id").as("doc_a"), col("sh").as("ta"))
    val jb = docs.select(col("doc_id").as("doc_b"), col("sh").as("tb"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    cands.join(sa, "doc_a").join(sb, "doc_b").join(ja, "doc_a").join(jb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        r(inter.cast("double") / (size(col("ta")) + size(col("tb")) - inter), 6).as("jaccard"),
        r(agree.cast("double") / NumHashes, 6).as("est_jaccard"))
      .withColumn("abs_err", r(abs(col("jaccard") - col("est_jaccard")), 6))
      .orderBy(col("doc_a"), col("doc_b"))
      .limit(500)
  }

  val m04Sql: String = {
    val agree = (0 until NumHashes)
      .map(j => s"CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    val inter = "len(list_intersect(a.sh, b.sh))"
    s"""WITH ${candCtesOver("documents")},
       est AS (SELECT c.doc_a, c.doc_b, ($agree) AS agree
           FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id
                       JOIN sig sb ON c.doc_b = sb.doc_id),
       rep AS (SELECT e.doc_a, e.doc_b,
           ${rSql(s"$inter / (len(a.sh) + len(b.sh) - $inter)", 6)} AS jaccard,
           ${rSql(s"e.agree / $NumHashes", 6)} AS est_jaccard
         FROM est e JOIN shd a ON e.doc_a = a.doc_id
                    JOIN shd b ON e.doc_b = b.doc_id)
       SELECT doc_a, doc_b, jaccard, est_jaccard,
         ${rSql("abs(jaccard - est_jaccard)", 6)} AS abs_err
       FROM rep
       ORDER BY doc_a, doc_b
       LIMIT 500"""
  }

  /** m05's fixed sample budget: 64 hash-ranked docs → 2016 exact pairs. */
  private val ScurveSample = 64

  /** 1 − (1 − m^[[RowsPerBand]])^[[Bands]] at the bin midpoint
    * m = (bin + 0.5)/10, spelled as an explicit multiplication chain
    * shared VERBATIM by both engines — libm pow() parity across engines
    * is not guaranteed, repeated IEEE multiplication is. */
  private def scurveTheorySql(bin: String): String = {
    val m = s"((CAST($bin AS DOUBLE) + 0.5) / 10.0)"
    val p8 = (1 until RowsPerBand).foldLeft(m)((acc, _) => s"($acc * $m)")
    val q = s"(1.0 - $p8)"
    val q4 = (1 until Bands).foldLeft(q)((acc, _) => s"($acc * $q)")
    s"1.0 - $q4"
  }

  /** Column twin of [[scurveTheorySql]] — same multiplication chain in
    * the same order, but with Scala double literals (an `expr()` parse of
    * the SQL text would make every literal DECIMAL, CLAUDE.md inv. 8b). */
  private def scurveTheoryCol(bin: Column): Column = {
    val m = (bin.cast("double") + lit(0.5)) / lit(10.0)
    val p8 = (1 until RowsPerBand).foldLeft(m)((acc, _) => acc * m)
    val q = lit(1.0) - p8
    val q4 = (1 until Bands).foldLeft(q)((acc, _) => acc * q)
    lit(1.0) - q4
  }

  /** m05 — LSH s-curve calibration: over all pairs of a fixed
    * [[ScurveSample]]-doc hash-rank sample, exact shingle Jaccard (binned
    * by 0.1), the EMPIRICAL ≥1-band collision rate, and the THEORETICAL
    * candidate probability 1 − (1 − j^8)^4 at the bin midpoint — the
    * report that validates m01's (bands, rows) choice against observed
    * data before committing to a corpus-scale dedup run. Bins with no
    * sampled pair are absent (the curve reports what was measured).
    * Exact dups land in bin 9 with empirical rate 1 (the all-band
    * collision guarantee DedupLshSpec already pins for m01).
    *
    * Scale shape: the sample is a hash-rank top-64 (TakeOrdered, no
    * driver-side sizing pass); all pairwise work is budget² = 2016 rows
    * at any corpus size — only the shingling scan is corpus-sized. */
  def m05LshScurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lshScurve(Tables.documents(s, dir).select($"doc_id", $"text"))
  }

  /** m05's core over (doc_id, text) — exposed for the planted-corpus
    * spec. */
  private[graft] def lshScurve(docs0: DataFrame): DataFrame = {
    val s = docs0.sparkSession
    import s.implicits._
    val smp = shingleDocs(docs0)
      .orderBy(h60($"doc_id".cast("string")), $"doc_id").limit(ScurveSample)
      .cache() // feeds the band build AND both exact-pair sides
    val bands = bucketsOf(smp).cache()
    val coll = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .withColumn("cf", lit(1))
    val a = smp.select($"doc_id".as("doc_a"), $"sh".as("ta"))
    val b = smp.select($"doc_id".as("doc_b"), $"sh".as("tb"))
    val inter = size(array_intersect($"ta", $"tb"))
    val pairs = a.join(b, $"doc_a" < $"doc_b")
      .withColumn("jacc", r(inter.cast("double") /
        (size($"ta") + size($"tb") - inter), 6))
      .select($"doc_a", $"doc_b", $"jacc")
      .join(coll, Seq("doc_a", "doc_b"), "left")
      .withColumn("coll", coalesce($"cf", lit(0)))
      .withColumn("jacc_bin", least(lit(9), floor($"jacc" * 10.0).cast("int")))
    pairs.groupBy($"jacc_bin")
      .agg(count(lit(1)).as("n_pairs"), sum($"coll").cast("long").as("n_collide"))
      .withColumn("emp_p",
        r($"n_collide".cast("double") / $"n_pairs".cast("double"), 6))
      .withColumn("theory_p", r(scurveTheoryCol($"jacc_bin"), 6))
      .orderBy($"jacc_bin")
  }

  val m05Sql: String =
    s"""WITH ${shingleCtesOver("documents")},
       smp AS (SELECT doc_id, sh FROM shd
         ORDER BY ${h60Sql("doc_id::VARCHAR")}, doc_id LIMIT $ScurveSample),
       ex AS (SELECT doc_id, unnest(sh) AS t FROM smp),
       hh AS (SELECT doc_id, ${h60Sql("t")} % $P AS h FROM ex),
       sig AS (SELECT doc_id, $sigColsSql FROM hh GROUP BY doc_id),
       bnd AS (SELECT doc_id, $bandHashesSql FROM sig),
       bkt AS ($bucketUnionSql),
       cl AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bkt x JOIN bkt y
         ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ${rSql("len(list_intersect(a.sh, b.sh)) / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))", 6)} AS jacc
         FROM smp a JOIN smp b ON a.doc_id < b.doc_id),
       fl AS (SELECT p.jacc,
           CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS coll
         FROM pr p LEFT JOIN cl c
         ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b),
       bb AS (SELECT CAST(least(9, CAST(floor(jacc * 10.0) AS INTEGER)) AS INTEGER) AS jacc_bin,
           coll FROM fl)
       SELECT jacc_bin, count(*) AS n_pairs,
         CAST(sum(coll) AS BIGINT) AS n_collide,
         ${rSql("CAST(sum(coll) AS BIGINT) / CAST(count(*) AS DOUBLE)", 6)} AS emp_p,
         ${rSql(scurveTheorySql("jacc_bin"), 6)} AS theory_p
       FROM bb GROUP BY jacc_bin ORDER BY jacc_bin"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m05_lsh_scurve" -> (m05LshScurve _),
    "d51_edit_dedup" -> (d51EditDedup _),
    "d53_neardup_leakage" -> (d53NeardupLeakage _),
    "m04_jaccard_estimate" -> (m04JaccardEstimate _),
    "m01_minhash_pairs" -> (m01MinHashPairs _),
    "m02_simhash" -> (m02SimHash _),
    "m03_simhash_pairs" -> (m03SimHashPairs _))

  // ---- DuckDB oracle twins ------------------------------------------------
  // The portable md5-derived hashes make every stage SQL-expressible; all
  // arithmetic below is integer-only (mins, affine permutations mod P, bit
  // votes), so there is no float-accumulation-order hazard anywhere — the
  // only double is the final Jaccard ratio, which both engines compute as
  // one IEEE division of small ints.

  /** DuckDB twin of [[shingleDocs]] over a (doc_id, text) relation (CTE
    * block ending in shd(doc_id, sh)). range(1, len-1) is
    * 1-based-exclusive: i spans the len(tk)-2 trigram starts, matching
    * Spark's sequence(0, size-3). */
  private def shingleCtesOver(src: String): String =
    s"""tk0 AS (SELECT doc_id, ${toksSql("text")} AS tk FROM $src),
       shd AS (SELECT doc_id,
           CASE WHEN len(tk) >= 3
                THEN list_distinct(list_transform(range(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
                ELSE [array_to_string(tk, ' ')] END AS sh
         FROM tk0)"""

  /** CTE block shingles → signatures → band buckets → capped candidate
    * pairs; ends in cand(doc_a, doc_b) with sig/shd still in scope —
    * shared by [[pairCtesOver]] and m04's estimation oracle.
    * Multiplier literals are ::BIGINT-cast (DuckDB int32 literal overflow,
    * CLAUDE.md invariant 7). */
  /** Signature / band-hash / bucket-union SQL fragments (over CTEs named
    * hh → sig → bnd) — shared by [[candCtesOver]] and m05's sampled
    * s-curve oracle. */
  private lazy val sigColsSql: String = (0 until NumHashes).map { j =>
    s"min((${2 * j + 1}::BIGINT * h + ${j * 7919 + 13}) % $P) AS s$j"
  }.mkString(", ")
  private lazy val bandHashesSql: String = (0 until Bands).map { b =>
    val parts = (0 until RowsPerBand)
      .map(r => s"s${b * RowsPerBand + r}::VARCHAR").mkString(" || ':' || ")
    s"${h60Sql(parts)} AS bh$b"
  }.mkString(", ")
  private lazy val bucketUnionSql: String = (0 until Bands)
    .map(b => s"SELECT doc_id, $b AS band, bh$b AS bh FROM bnd")
    .mkString(" UNION ALL ")

  private def candCtesOver(src: String): String = {
    val sigCols = sigColsSql
    val bandHashes = bandHashesSql
    val bucketUnion = bucketUnionSql
    s"""${shingleCtesOver(src)},
       ex AS (SELECT doc_id, unnest(sh) AS t FROM shd),
       hh AS (SELECT doc_id, ${h60Sql("t")} % $P AS h FROM ex),
       sig AS (SELECT doc_id, $sigCols FROM hh GROUP BY doc_id),
       bnd AS (SELECT doc_id, $bandHashes FROM sig),
       bkt AS ($bucketUnion),
       cap AS (SELECT doc_id, band, bh FROM (
           SELECT doc_id, band, bh,
             row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rnk
           FROM bkt) c
         WHERE rnk <= $BandBucketCap),
       cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM cap x JOIN cap y
           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)"""
  }

  /** [[candCtesOver]] plus exact verification: ends in
    * pr(doc_a, doc_b, jaccard) with jaccard ≥ 0.5 — shared by m01's
    * oracle, d11's cluster oracle, and d13's curation oracle. */
  private[operators] def pairCtesOver(src: String): String = {
    val inter = "len(list_intersect(a.sh, b.sh))"
    s"""${candCtesOver(src)},
       pr AS (SELECT doc_a, doc_b, jaccard FROM (
           SELECT doc_a, doc_b,
             ${rSql(s"$inter / (len(a.sh) + len(b.sh) - $inter)", 6)} AS jaccard
           FROM cand JOIN shd a ON cand.doc_a = a.doc_id
                     JOIN shd b ON cand.doc_b = b.doc_id) v
         WHERE jaccard >= 0.5)"""
  }

  val m01Sql: String =
    s"""WITH ${pairCtesOver("documents")}
       SELECT doc_a, doc_b, jaccard FROM pr
       ORDER BY jaccard DESC, doc_a, doc_b
       LIMIT 500"""

  /** CTE block shingles → per-bit vote sums → assembled 64-bit simhash;
    * ends in sg(doc_id, n, simhash). The two 32-bit md5 parses are voted
    * on directly (bit j<32 from b0, else b1); assembly sums 2^j literals
    * for j ≤ 62 and adds -2^63 for bit 63, so no BIGINT shift ever
    * overflows (DuckDB errors on shift overflow, unlike Java's wrap). */
  private val simhashCtes: String = {
    val votes = (0 until 64).map { j =>
      val bit = if (j < 32) s"(b0 >> $j) & 1" else s"(b1 >> ${j - 32}) & 1"
      s"sum($bit) AS s$j"
    }.mkString(", ")
    val assemble = (0 until 63)
      .map(j => s"CASE WHEN s$j * 2 >= n THEN ${1L << j}::BIGINT ELSE 0::BIGINT END")
      .mkString(" + ") +
      " + CASE WHEN s63 * 2 >= n THEN (-9223372036854775807 - 1) ELSE 0::BIGINT END"
    s"""${shingleCtesOver("documents")},
       ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS t FROM shd),
       hh AS (SELECT doc_id, n,
           ('0x' || substring(md5(t), 1, 8))::BIGINT AS b0,
           ('0x' || substring(md5(t), 9, 8))::BIGINT AS b1
         FROM ex),
       vt AS (SELECT doc_id, n, $votes FROM hh GROUP BY doc_id, n),
       sg AS (SELECT doc_id, n, ($assemble) AS simhash FROM vt)"""
  }

  val m02Sql: String =
    s"""WITH $simhashCtes
       SELECT doc_id, n AS n_shingles, simhash FROM sg
       ORDER BY doc_id"""

  val m03Sql: String =
    s"""WITH $simhashCtes,
       seg AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS sidx FROM sg),
       segv AS (SELECT doc_id, simhash, sidx,
           (simhash >> (16 * sidx)) & 65535 AS seg FROM seg),
       capd AS (SELECT doc_id, simhash, sidx, seg FROM (
           SELECT doc_id, simhash, sidx, seg,
             row_number() OVER (PARTITION BY sidx, seg ORDER BY doc_id) AS rnk
           FROM segv) z
         WHERE rnk <= $SegBucketCap)
       SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         bit_count(xor(x.simhash, y.simhash)) AS hamming
       FROM capd x JOIN capd y
       ON x.sidx = y.sidx AND x.seg = y.seg AND x.doc_id < y.doc_id
       WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
       ORDER BY hamming, doc_a, doc_b
       LIMIT 500"""

  val oracles: Map[String, String] = Map(
    "m05_lsh_scurve" -> m05Sql,
    "d51_edit_dedup" -> d51Sql,
    "d53_neardup_leakage" -> d53Sql,
    "m04_jaccard_estimate" -> m04Sql,
    "m01_minhash_pairs" -> m01Sql,
    "m02_simhash" -> m02Sql,
    "m03_simhash_pairs" -> m03Sql)
}
