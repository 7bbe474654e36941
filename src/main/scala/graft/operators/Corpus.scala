package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Num._
import TextOps.{toks, toksSql}

/** Corpus-level text operators: TF-IDF term weighting and near-duplicate
  * cluster formation (connected components over the d05 pair graph) — the
  * two standard steps after pairwise dedup scoring in an LLM-data pipeline
  * (pick canonical documents per duplicate cluster; weight terms for
  * quality/filter models).
  */
object Corpus {

  /** d08 — TF-IDF: top-3 terms per document by tf·ln(N/df), lowercased
    * whitespace tokens. Plan shape: one explode→groupBy for tf (shuffle on
    * (doc, term)), one groupBy for df (shuffle on term), a shuffle join
    * tf⋈df on term, and a per-doc window for the top-3 — every stage keyed
    * on uniformly-distributed text terms, so it scales linearly; df and N
    * are corpus-wide but tiny (vocabulary-sized / scalar). Ranking uses the
    * ROUNDED score (term as tie-break) so Spark and DuckDB rank
    * identically even when raw doubles differ in the last ulp. */
  def d08Tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select($"doc_id", explode(toks(lower($"text"))).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"term",
        r($"tf" * log($"n".cast("double") / $"df"), 6).as("tfidf"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .orderBy($"doc_id", $"rk")
  }

  val d08Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS term FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       n AS (SELECT count(*) AS n FROM documents),
       sc AS (SELECT doc_id, tf.term AS term,
                ${rSql("tf * ln(CAST(n AS DOUBLE) / df)", 6)} AS tfidf
              FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
       rk AS (SELECT doc_id, term, tfidf,
                row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
              FROM sc)
       SELECT doc_id, term, tfidf, rk FROM rk WHERE rk <= 3
       ORDER BY doc_id, rk"""

  /** d09 — near-duplicate clusters: connected components over the J ≥ 0.5
    * pair graph ([[TextOps.nearDupPairs]]), labeling every document with
    * the minimum doc_id reachable from it (= canonical representative).
    *
    * Implementation is distributed star contraction (the min-selection
    * variant of large-star/small-star, Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round maps every
    * endpoint to the minimum of its closed neighborhood, composes the
    * node→representative labels through that map, contracts the edge list,
    * and repeats until no edges survive — O(log n) rounds worst case, and
    * ONE round for the dense cliques near-dup graphs actually form, with
    * per-round cost proportional to the shrinking edge list.
    * `localCheckpoint` truncates the per-round lineage so the final plan
    * doesn't re-derive the whole loop; freed rounds are unpersisted
    * immediately (non-blocking — the blocking form stalls in local mode).
    *
    * The DuckDB oracle computes the same fixpoint with a recursive CTE —
    * fully SQL-expressible, so this IS oracle-checked (rare for an
    * iterative graph operator). */
  def d09DedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupClusters(s, TextOps.nearDupPairs(s, dir),
      Tables.documents(s, dir).select($"doc_id"))
  }

  /** Star-contraction cluster labeling over an arbitrary (doc_a, doc_b)
    * pair graph — d09 feeds it the exact quadratic d05 edges, d11 the
    * bucketed LSH edges ([[DedupLsh.lshPairs]]), which is the composition
    * that survives 100 TB (the edge generator is the scale ceiling, not
    * this loop). */
  def dedupClusters(s: SparkSession, pairEdges: DataFrame, nodes: DataFrame): DataFrame = {
    import s.implicits._
    // localCheckpoint bookkeeping: each round's checkpoint truncates the
    // loop's lineage (so the returned plan doesn't re-derive the whole
    // iteration), and every intermediate checkpoint is unpersisted as soon
    // as its successor is materialized — without this the pair graph and
    // per-round label blocks pile up in executor storage and degrade every
    // query that runs after this one in the same session.
    def ckpt(df: DataFrame): (DataFrame, Seq[Int]) = {
      val before = s.sparkContext.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, (s.sparkContext.getPersistentRDDs.keySet -- before).toSeq)
    }
    // non-blocking: a blocking unpersist round-trips through the block
    // manager and stalls 15-50 s intermittently in local mode (measured);
    // async removal is safe — the blocks are dead to this lineage.
    def free(ids: Seq[Int]): Unit = ids.foreach(id =>
      s.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))

    // materialize the pair graph ONCE: union branches re-evaluate their
    // child per branch, so deriving anything twice from the live quadratic
    // pair join would run it twice (CLAUDE.md invariant 5)
    var (edges, edgeIds) = ckpt(pairEdges
      .select($"doc_a".as("src"), $"doc_b".as("dst")))
    var (labels, labelIds) = ckpt(nodes
      .select($"doc_id".as("node"), $"doc_id".as("label")))
    // star contraction: per round, every endpoint maps to the minimum of
    // its closed neighborhood (rep), labels compose through the map, and
    // edges contract to (rep(src), rep(dst)) minus self-loops, deduped.
    // Dense near-dup cliques collapse to their minimum in one round, so
    // the 10^6-edge list shrinks geometrically — each round's cost is
    // proportional to the SURVIVING edges, unlike naive min-label
    // propagation which re-joins the full edge list every round.
    // convergence probe: isEmpty is a limit-1 probe (one task, short-
    // circuits on the first non-empty partition) where count() paid a full
    // pass over the surviving edges every round — on a deep graph that is
    // one extra scan per contraction for a boolean we only need the sign of
    var iter = 0
    var edgesRemain = !edges.isEmpty
    while (edgesRemain && iter < 50) {
      val m = edges.union(edges.select($"dst".as("src"), $"src".as("dst")))
        .groupBy($"src").agg(min($"dst").as("mn"))
        .select($"src".as("v"), least($"src", $"mn").as("rep"))
      val (labels2, labelIds2) = ckpt(
        labels.join(m, $"label" === $"v", "left")
          .select($"node", coalesce($"rep", $"label").as("label")))
      val mu = m.select($"v".as("uv"), $"rep".as("ru"))
      val mv = m.select($"v".as("vv"), $"rep".as("rv"))
      val (edges2, edgeIds2) = ckpt(
        edges.join(mu, $"src" === $"uv").join(mv, $"dst" === $"vv")
          .select(least($"ru", $"rv").as("src"), greatest($"ru", $"rv").as("dst"))
          .filter($"src" =!= $"dst")
          .distinct())
      free(labelIds); free(edgeIds)
      labels = labels2; labelIds = labelIds2
      edges = edges2; edgeIds = edgeIds2
      edgesRemain = !edges.isEmpty
      iter += 1
    }
    // fail loudly: a silent partial contraction would surface only as an
    // opaque oracle hash mismatch (star contraction halves components per
    // round, so 50 rounds covers any graph with < 2^50 nodes — hitting
    // this is a bug, not a tuning problem)
    require(!edgesRemain,
      s"dedupClusters star contraction did not converge after $iter rounds (edges remain)")
    free(edgeIds)
    labels
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy($"label")))
      .select($"node".as("doc_id"), $"label".as("cluster_id"), $"cluster_size")
      .orderBy($"doc_id")
  }

  val d09Sql: String =
    s"""WITH RECURSIVE
       d AS (SELECT doc_id, lang, list_distinct(${toksSql("text")}) AS ts FROM documents),
       e AS (SELECT doc_a, doc_b FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ${rSql("len(list_intersect(a.ts, b.ts)) / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))", 6)} AS jaccard
           FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id) p
         WHERE jaccard >= 0.5),
       ee AS (SELECT doc_a AS src, doc_b AS dst FROM e
              UNION ALL SELECT doc_b, doc_a FROM e),
       cc AS (SELECT doc_id AS node, doc_id AS label FROM d
              UNION
              SELECT ee.dst AS node, cc.label FROM cc JOIN ee ON cc.node = ee.src),
       lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node)
       SELECT doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       FROM lab
       ORDER BY doc_id"""

  /** d11 — LSH-fed near-duplicate clusters: same star-contraction labeling
    * as d09 but edges come from the bucketed MinHash-LSH pair generator
    * instead of the exact quadratic d05 join — the composition that holds
    * at 100 TB (single shuffle per LSH stage, capped buckets, no all-pairs
    * term anywhere). The LSH edges use portable md5-derived hashes
    * ([[DedupLsh.pairCtesOver]]), so the whole composition — sketch, bucket,
    * verify, iterate-to-fixpoint — is oracle-checked end to end via a
    * recursive CTE; CorpusSpec additionally pins cluster equality with
    * d09 on this corpus (LSH recall at J ≥ 0.5 is total for the pairs
    * that matter here). */
  def d11LshClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupClusters(s, DedupLsh.lshPairs(s, dir),
      Tables.documents(s, dir).select($"doc_id"))
  }

  val d11Sql: String =
    s"""WITH RECURSIVE ${DedupLsh.pairCtesOver("documents")},
       ee AS (SELECT doc_a AS src, doc_b AS dst FROM pr
              UNION ALL SELECT doc_b, doc_a FROM pr),
       cc AS (SELECT doc_id AS node, doc_id AS label FROM documents
              UNION
              SELECT ee.dst AS node, cc.label FROM cc JOIN ee ON cc.node = ee.src),
       lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node)
       SELECT doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       FROM lab
       ORDER BY doc_id"""

  /** d13 — end-to-end corpus curation: the composition an LLM training-data
    * pipeline runs before tokenization, as ONE differentially-tested query.
    *
    *   1. quality filter — d02's composite score ≥ 0.52 (scan-local);
    *   2. exact dedup — keep the lowest doc_id per normalized md5
    *      fingerprint (one shuffle on the hash, d04's shape);
    *   3. near-dup dedup — MinHash-LSH pairs over the survivors
    *      ([[DedupLsh.minHashPairsAll]], bucketed + capped), star-contraction
    *      clusters, keep each cluster's canonical (minimum) doc_id;
    *   4. stratified rebalance — deterministic md5-hash sampling at 50%
    *      for the dominant `en`, 90% for the rest (scan-local, reproducible
    *      across engines/retries — the property rand() sampling can't give).
    *
    * Every stage is the scale-path variant (no quadratic term anywhere:
    * the only pairwise work is LSH-candidate verification), yet the whole
    * composition is oracle-checked — quality formula, fingerprint window,
    * LSH pair CTEs, recursive-CTE connected components, and the sampling
    * hash all reuse the building blocks their standalone queries already
    * prove. Output: one row per curated document with its lineage stats
    * (quality, near-dup cluster size, token count). */
  def d13CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qual = Tables.documents(s, dir)
      .filter(length($"text") > 0)
      .withColumn("quality", TextOps.qualityCol)
      .filter($"quality" >= 0.52)
    // exact dedup via a min-over-fingerprint window (equivalent to d04's
    // groupBy+min, but keeps the full row without a self-join)
    val surv = qual
      .withColumn("keep_id",
        min($"doc_id").over(Window.partitionBy(TextOps.normFp($"text"))))
      .filter($"doc_id" === $"keep_id")
      .drop("keep_id")
      .cache() // feeds the shingle pipeline AND the final lineage join
    val pairs = DedupLsh.minHashPairsAll(
      DedupLsh.shingleDocs(surv.select($"doc_id", $"text")))
    val clusters = dedupClusters(s, pairs, surv.select($"doc_id"))
    val sampleRate = when($"lang" === "en", 50L).otherwise(90L)
    clusters
      .filter($"doc_id" === $"cluster_id") // canonical per near-dup cluster
      .join(surv, "doc_id")
      // coalesce(lang, ''): concat_ws SKIPS nulls while DuckDB's || is
      // null-propagating — without the explicit default the two sampling
      // hashes silently diverge on a nullable corpus (r3 advice)
      .filter(pmod(DedupLsh.h60(
        concat_ws(":", coalesce($"lang", lit("")), $"doc_id".cast("string"))), lit(100L)) < sampleRate)
      .select($"doc_id", $"lang", $"quality", $"cluster_size",
        size(toks($"text")).as("n_tokens"))
      .orderBy($"doc_id")
  }

  val d13Sql: String =
    s"""WITH RECURSIVE
       q0 AS (SELECT doc_id, lang, text, ${TextOps.qualitySql} AS quality
              FROM documents WHERE length(text) > 0),
       q1 AS (SELECT * FROM q0 WHERE quality >= 0.52),
       surv AS (SELECT doc_id, lang, text, quality FROM (
           SELECT q1.*,
             min(doc_id) OVER (PARTITION BY ${TextOps.normFpSql("text")}) AS keep_id
           FROM q1) f
         WHERE doc_id = keep_id),
       ${DedupLsh.pairCtesOver("surv")},
       ee AS (SELECT doc_a AS src, doc_b AS dst FROM pr
              UNION ALL SELECT doc_b, doc_a FROM pr),
       cc AS (SELECT doc_id AS node, doc_id AS label FROM surv
              UNION
              SELECT ee.dst AS node, cc.label FROM cc JOIN ee ON cc.node = ee.src),
       lab AS (SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node),
       cl AS (SELECT doc_id, cluster_id,
                count(*) OVER (PARTITION BY cluster_id) AS cluster_size
              FROM lab)
       SELECT c.doc_id, s.lang, s.quality, c.cluster_size,
         len(${toksSql("s.text")}) AS n_tokens
       FROM cl c JOIN surv s ON c.doc_id = s.doc_id
       WHERE c.doc_id = c.cluster_id
         AND ('0x' || substring(md5(coalesce(s.lang, '') || ':' || c.doc_id::VARCHAR), 1, 15))::BIGINT % 100
             < CASE WHEN s.lang = 'en' THEN 50 ELSE 90 END
       ORDER BY c.doc_id"""

  /** d10 — bigram language-model scoring: every document scored by the
    * mean log-probability of its bigrams under the corpus's own MLE
    * bigram model (P(w2|w1) = c(w1 w2)/c(w1·)) — the perplexity-filter
    * family used to rank corpus text by fluency. Plan shape: one explode
    * over ordered bigrams (cached — it feeds both the count aggregation
    * and the per-doc join), counts shuffle on the bigram key (uniform,
    * vocabulary-sized), probabilities join back to instances on that same
    * key, one final per-doc aggregation. The log-prob sum goes through
    * the decimal policy so partition order can't move the mean. */
  def d10BigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = toks(lower($"text"))
    val big = Tables.documents(s, dir)
      .select($"doc_id", tk.as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1]))")).as("bg"))
      .cache()
    val cb = big.groupBy($"bg").agg(count(lit(1)).as("nb"))
    val cu = cb
      .withColumn("w1", substring_index($"bg", " ", 1))
      .groupBy($"w1").agg(sum($"nb").as("nu"))
    val p = cb.withColumn("w1", substring_index($"bg", " ", 1))
      .join(cu, "w1")
      .select($"bg", log($"nb".cast("double") / $"nu").as("logp"))
    big.join(p, "bg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        r(dsum($"logp") / count(lit(1)), 6).as("avg_logp"))
      .orderBy($"doc_id")
  }

  val d10Sql: String =
    s"""WITH big AS (
         SELECT doc_id, unnest(list_transform(range(1, len(tk)),
           i -> tk[i] || ' ' || tk[i + 1])) AS bg
         FROM (SELECT doc_id, ${toksSql("lower(text)")} AS tk FROM documents)
         WHERE len(tk) >= 2),
       cb AS (SELECT bg, count(*) AS nb FROM big GROUP BY bg),
       cu AS (SELECT split_part(bg, ' ', 1) AS w1, sum(nb) AS nu FROM cb GROUP BY 1),
       p AS (SELECT bg, ln(CAST(nb AS DOUBLE) / nu) AS logp
             FROM cb JOIN cu ON split_part(cb.bg, ' ', 1) = cu.w1)
       SELECT doc_id, count(*) AS n_bigrams,
         ${rSql(s"${dsumSql("logp")} / count(*)", 6)} AS avg_logp
       FROM big JOIN p USING (bg)
       GROUP BY doc_id
       ORDER BY doc_id"""

  /** d14 — BM25 term weighting (the retrieval-grade upgrade of d08's
    * TF-IDF: saturating tf and document-length normalization, k1=1.2,
    * b=0.75, Lucene's non-negative idf): top-3 terms per document. Plan
    * adds one per-doc length aggregate and a broadcast 1-row avgdl to
    * d08's tf⋈df shape — still keyed on uniform terms/doc_ids, linear at
    * any corpus size. Engine parity: the idf ratio is scaled to integers
    * ((2N−2df+1)/(2df+1)) so DuckDB can't fall into decimal/decimal
    * division (its rounded-scale result diverges from double math);
    * everything else is int→double promotion + one d08-proven ln. */
  def d14Bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select($"doc_id", explode(toks(lower($"text"))).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val avgdl = dl.agg(davg($"dl").as("avgdl"))
    val idf = log(lit(1.0) +
      (lit(2L) * $"n" - lit(2L) * $"df" + lit(1L)) / (lit(2L) * $"df" + lit(1L)))
    // idf·(k1+1)·(tf/den), NOT idf·(tf·2.2)/den: BIGINT·DECIMAL is exact
    // DECIMAL in DuckDB but double in Spark — keep every int→float
    // transition a division or a float·float product
    val score = idf * lit(2.2) * ($"tf" /
      ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / $"avgdl"))))
    val w = Window.partitionBy($"doc_id").orderBy($"bm25".desc, $"term")
    tf.join(df, "term").join(dl, "doc_id")
      .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
      .select($"doc_id", $"term", r(score, 6).as("bm25"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .orderBy($"doc_id", $"rk")
  }

  val d14Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(${toksSql("lower(text)")}) AS term FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
       dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       n AS (SELECT count(*) AS n FROM documents),
       ad AS (SELECT ${davgSql("dl")} AS avgdl FROM dl),
       sc AS (SELECT doc_id, tf.term AS term,
           ${rSql("ln(1.0 + (2 * n - 2 * df + 1) / (2 * df + 1)) * 2.2 * (tf / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))", 6)} AS bm25
         FROM tf JOIN df ON tf.term = df.term JOIN dl USING (doc_id)
         CROSS JOIN n CROSS JOIN ad),
       rk AS (SELECT doc_id, term, bm25,
           row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term) AS rk
         FROM sc)
       SELECT doc_id, term, bm25, rk FROM rk WHERE rk <= 3
       ORDER BY doc_id, rk"""

  // --- d15: TextRank — weighted PageRank over token co-occurrence -------

  private[graft] val TrIters = 3

  /** d15 — TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    * PageRank (damping 0.85, [[TrIters]] power-iteration rounds) over the
    * symmetrized token-adjacency graph, ranking the corpus vocabulary by
    * random-walk centrality — the graph-based cousin of d08/d14's
    * frequency scores. Plan: one bigram explode → edge aggregation
    * (vocabulary²-bounded state), then per round one join-aggregate on the
    * edge key with decimal-exact contribution sums — graph state is
    * vocabulary-sized, never corpus-sized, so the loop holds at 100 TB.
    * Like e10/ml04, the whole iteration mirrors in unrolled CTEs → the
    * oracle hash-checks the power iteration itself (rank mass
    * conservation additionally pinned in CorpusSpec). */
  def d15Textrank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val adj = Tables.documents(s, dir)
      .select(toks(lower($"text")).as("tk"))
      .filter(size($"tk") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS u, tk[i + 1] AS v))")).as("p"))
      .select($"p.u", $"p.v")
      .filter($"u" =!= $"v")
    // cached: the edge list feeds the degree table, the node set, and all
    // TrIters contribution joins (CLAUDE.md invariant 5); it is bounded
    // by vocabulary², not corpus size
    val ed = adj.union(adj.select($"v".as("u"), $"u".as("v")))
      .groupBy($"u", $"v").agg(count(lit(1)).as("wgt"))
      .cache()
    val wdeg = ed.groupBy($"u").agg(sum($"wgt").as("wd"))
    val nTbl = ed.select($"u").distinct().agg(count(lit(1)).cast("double").as("nn"))
    val pr0 = ed.select($"u").distinct().crossJoin(broadcast(nTbl))
      .select($"u", (lit(1.0) / $"nn").as("pr"))
    def step(pr: DataFrame): DataFrame =
      ed.join(wdeg, "u").join(pr, "u").crossJoin(broadcast(nTbl))
        .groupBy($"v")
        .agg((lit(0.15) / min($"nn") + lit(0.85) * dsum(expr("wgt / wd * pr"))).as("pr"))
        .select($"v".as("u"), $"pr")
    val prT = (1 to TrIters).foldLeft(pr0)((p, _) => step(p))
    prT.select($"u".as("term"), r($"pr", 6).as("score"))
      // global-window AUDIT (r15): vocabulary-sized term table (d27/d36
      // family — model-state axis, not corpus rows).
      .withColumn("pos", row_number().over(Window.orderBy($"score".desc, $"term")))
      .orderBy($"pos")
  }

  val d15Sql: String = {
    val steps = (1 to TrIters).map { t =>
      s"""pr$t AS (SELECT e.v AS u,
           0.15 / min(nn) + 0.85 * ${dsumSql("e.wgt / w.wd * p.pr")} AS pr
         FROM ed e JOIN wd w ON e.u = w.u JOIN pr${t - 1} p ON e.u = p.u
         CROSS JOIN ntb GROUP BY e.v)"""
    }.mkString(",\n       ")
    s"""WITH tk0 AS (SELECT ${toksSql("lower(text)")} AS tk FROM documents),
       adj0 AS (SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS u,
           unnest(list_transform(range(1, len(tk)), i -> tk[i + 1])) AS v
         FROM tk0 WHERE len(tk) >= 2),
       adj AS (SELECT u, v FROM adj0 WHERE u != v),
       ed AS (SELECT u, v, count(*) AS wgt FROM (
           SELECT u, v FROM adj UNION ALL SELECT v, u FROM adj) z
         GROUP BY u, v),
       wd AS (SELECT u, CAST(sum(wgt) AS BIGINT) AS wd FROM ed GROUP BY u),
       ntb AS (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS nn FROM ed),
       pr0 AS (SELECT u, 1.0 / nn AS pr
         FROM (SELECT DISTINCT u FROM ed) n CROSS JOIN ntb),
       $steps
       SELECT u AS term, ${rSql("pr", 6)} AS score,
         row_number() OVER (ORDER BY ${rSql("pr", 6)} DESC, u) AS pos
       FROM pr$TrIters
       ORDER BY pos"""
  }

  // --- d25: DSIR importance-weighted data selection -----------------------

  /** d25's target domain: the sources whose token distribution defines
    * "target-like" text. Shared by the Column and SQL forms. */
  private[graft] val DsirTargetSrcs = Seq("src0", "src1", "src2", "src3")

  /** d25 — DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    * score every document by its mean per-token log importance ratio
    * ln p_target(w) − ln p_raw(w) under add-one-smoothed unigram LMs,
    * where target = the [[DsirTargetSrcs]] domains and raw = the whole
    * corpus; positive scores mark target-like documents worth upsampling.
    * Both LMs train in-plan from ONE token aggregation (a per-token
    * conditional count rides along the raw count), the totals are a
    * broadcast 1-row frame, and the ratio joins back to token instances
    * on the uniform vocabulary key — d10's scalable explode→count→join
    * layout with the model table doubled, linear at any corpus size.
    * Smoothed-probability logs are exact-integer ratios through ln (the
    * d10-proven parity path); the mean goes through the decimal policy. */
  def d25DsirSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached: instances feed the count aggregation AND the scoring join
    // (CLAUDE.md invariant 5)
    val inst = Tables.documents(s, dir)
      .select($"doc_id", $"source", explode(toks(lower($"text"))).as("w"))
      .cache()
    val cr = inst.groupBy($"w").agg(
      count(lit(1)).as("craw"),
      sum(when($"source".isin(DsirTargetSrcs: _*), 1L).otherwise(0L)).as("ctgt"))
    val tot = cr.agg(sum($"craw").as("nraw"), sum($"ctgt").as("ntgt"),
      count(lit(1)).as("v"))
    val p = cr.crossJoin(broadcast(tot))
      .select($"w",
        (log(($"ctgt" + lit(1L)).cast("double") / ($"ntgt" + $"v")) -
          log(($"craw" + lit(1L)).cast("double") / ($"nraw" + $"v"))).as("lr"))
    inst.join(p, "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        r(dsum($"lr") / count(lit(1)), 6).as("dsir_score"))
      .withColumn("selected", ($"dsir_score" >= 0.0).cast("int"))
      .orderBy($"doc_id")
  }

  val d25Sql: String = {
    val inTgt = DsirTargetSrcs.map(s => s"'$s'").mkString(", ")
    s"""WITH inst AS (SELECT doc_id, source,
           unnest(${toksSql("lower(text)")}) AS w FROM documents),
       cr AS (SELECT w, count(*) AS craw,
           (sum(CASE WHEN source IN ($inTgt) THEN 1 ELSE 0 END))::BIGINT AS ctgt
         FROM inst GROUP BY w),
       tot AS (SELECT (sum(craw))::BIGINT AS nraw, (sum(ctgt))::BIGINT AS ntgt,
           count(*) AS v FROM cr),
       p AS (SELECT w, ln((ctgt + 1) / (ntgt + v)) - ln((craw + 1) / (nraw + v))
           AS lr FROM cr CROSS JOIN tot),
       sc AS (SELECT doc_id, count(*) AS n_tokens,
           ${rSql(s"${dsumSql("lr")} / count(*)", 6)} AS dsir_score
         FROM inst JOIN p USING (w) GROUP BY doc_id)
       SELECT doc_id, n_tokens, dsir_score,
         CAST(dsir_score >= 0 AS INTEGER) AS selected
       FROM sc ORDER BY doc_id"""
  }

  // --- d26: perplexity bucketing (CCNet) ----------------------------------

  /** d26 — CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): score every document by its cross-entropy under a
    * bigram LM trained on the TARGET domain only ([[DsirTargetSrcs]], the
    * d25 domains — CCNet's Wikipedia), then split the corpus into
    * head/middle/tail by the tertiles of that score. This is the other
    * half of the perplexity-filter family: d10 scores under the corpus's
    * OWN LM (fluency relative to itself); d26 scores against a curated
    * reference and keeps the buckets, which is what CCNet actually ships.
    *
    * Model: P(w2|w1) = (c_tgt(w1 w2) + 1) / (c_tgt(w1 ·) + V), add-one
    * smoothed over the corpus-wide unigram vocabulary V so bigrams unseen
    * in the target domain still score (LEFT joins + coalesce-0 — the
    * out-of-domain case add-one smoothing exists for). Cross-entropy =
    * −mean log P over the doc's bigrams, through the decimal-sum policy.
    *
    * Plan shape: d10's explode→count→join layout (bigram instances cached
    * — they feed LM training and the scoring join; CLAUDE.md invariant 5)
    * with the LM counts filtered to the target rows, plus a broadcast
    * 1-row vocabulary size and a broadcast 1-row tertile frame. All joins
    * are keyed on uniform text n-grams — linear at any corpus size. The
    * tertile cutoffs use exact interpolated percentile on the ROUNDED
    * score (the q33-proven quantile_cont parity path; identical inputs →
    * identical interpolation → bucket comparisons bit-agree), computed in
    * one single-group aggregate: exact percentile buffers the column, so
    * at 100 TB swap in the q37 GK sketch for the cutoffs — same shape. */
  def d26PerplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val big = docs
      .select($"doc_id", $"source", toks(lower($"text")).as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", $"source", explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1]))")).as("bg"))
      .cache()
    val vocab = docs
      .select(explode(toks(lower($"text"))).as("w"))
      .agg(countDistinct($"w").as("v"))
    val cbt = big.filter($"source".isin(DsirTargetSrcs: _*))
      .groupBy($"bg").agg(count(lit(1)).as("nb"))
    val cut = cbt
      .withColumn("w1", substring_index($"bg", " ", 1))
      .groupBy($"w1").agg(sum($"nb").as("nu"))
    val inst = big
      .withColumn("w1", substring_index($"bg", " ", 1))
      .join(cbt, Seq("bg"), "left")
      .join(cut, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select($"doc_id",
        log((coalesce($"nb", lit(0L)) + lit(1L)).cast("double") /
          (coalesce($"nu", lit(0L)) + $"v")).as("logp"))
    val ce = inst.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        r(-dsum($"logp") / count(lit(1)), 6).as("ce"))
    val cuts = ce.agg(
      r(percentile($"ce", lit(1.0 / 3)), 6).as("t1"),
      r(percentile($"ce", lit(2.0 / 3)), 6).as("t2"))
    ce.crossJoin(broadcast(cuts))
      .select($"doc_id", $"n_bigrams", $"ce",
        when($"ce" <= $"t1", "head")
          .when($"ce" <= $"t2", "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  val d26Sql: String = {
    val inTgt = DsirTargetSrcs.map(s => s"'$s'").mkString(", ")
    s"""WITH big AS (
         SELECT doc_id, source, unnest(list_transform(range(1, len(tk)),
           i -> tk[i] || ' ' || tk[i + 1])) AS bg
         FROM (SELECT doc_id, source, ${toksSql("lower(text)")} AS tk FROM documents)
         WHERE len(tk) >= 2),
       vocab AS (SELECT count(DISTINCT w) AS v
         FROM (SELECT unnest(${toksSql("lower(text)")}) AS w FROM documents)),
       cbt AS (SELECT bg, count(*) AS nb FROM big
         WHERE source IN ($inTgt) GROUP BY bg),
       cut AS (SELECT split_part(bg, ' ', 1) AS w1, (sum(nb))::BIGINT AS nu
         FROM cbt GROUP BY 1),
       inst AS (SELECT doc_id,
           ln((coalesce(nb, 0) + 1) / (coalesce(nu, 0) + v)) AS logp
         FROM big
         LEFT JOIN cbt USING (bg)
         LEFT JOIN cut ON split_part(big.bg, ' ', 1) = cut.w1
         CROSS JOIN vocab),
       ce AS (SELECT doc_id, count(*) AS n_bigrams,
           ${rSql(s"-(${dsumSql("logp")}) / count(*)", 6)} AS ce
         FROM inst GROUP BY doc_id),
       cuts AS (SELECT ${rSql("quantile_cont(ce, 1.0 / 3)", 6)} AS t1,
           ${rSql("quantile_cont(ce, 2.0 / 3)", 6)} AS t2 FROM ce)
       SELECT doc_id, n_bigrams, ce,
         CASE WHEN ce <= t1 THEN 'head'
              WHEN ce <= t2 THEN 'middle'
              ELSE 'tail' END AS bucket
       FROM ce CROSS JOIN cuts
       ORDER BY doc_id"""
  }

  // --- ml05: multinomial Naive Bayes text classifier ----------------------

  /** ml05 — multinomial Naive Bayes lang classifier, trained and scored
    * entirely in-plan (the classic fastText-predecessor text classifier;
    * add-one smoothing per Manning, Raghavan & Schütze IR book §13.2).
    * Train on s03's deterministic "train" split (h60(doc_id)%10 ≤ 7 —
    * the split expression is DedupLsh.h60, shared with s03 so the two
    * can't drift), score the "test" split (h = 9): per (doc, lang)
    * log-score = ln(prior_l) + Σ_w ln((c_{l,w}+1)/(n_l+V)), prediction =
    * argmax via min(struct(-score, lang)) on the ROUNDED score (map-side
    * combinable; rounded-then-argmax is the q33/d26 cross-engine parity
    * path, lexicographic lang tie-break). OOV test tokens (absent from
    * the train vocabulary) drop out via the inner scoring join — the
    * deterministic OOV policy.
    *
    * Scale shape: ONE token aggregation over the train split (uniform
    * (lang, w) key), a V×L smoothed-probability grid joined to test
    * token instances on the uniform vocabulary key (d10/d25's layout),
    * then per-(doc, lang) decimal sums and a ≤L-row-per-doc argmin
    * aggregate. Priors/totals are broadcast 1-row or L-row frames. All
    * logs are exact-integer ratios through ln (d10-proven parity).
    * Linear at any corpus size; model state is O(V·L). */
  def ml05NaiveBayes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
    naiveBayes(sp.filter($"h" <= 7), sp.filter($"h" === 9))
  }

  /** ml05's core over explicit (doc_id, lang, text) train/test relations —
    * exposed so the spec can train on a vocabulary-separable planted
    * corpus and check the predictions by hand. */
  private[graft] def naiveBayes(train: DataFrame, test: DataFrame): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    // r14 perf: both tokenize→explode passes below otherwise run entirely
    // inside the table's 1-split scan task (tiny single-file parquet, and
    // every downstream join broadcasts, so nothing ever redistributes the
    // amplified per-token work — measured as the two dominant single-task
    // stages of this query). Fan the documents out by doc_id first; the
    // explicit partition count pins the exchange against AQE coalescing
    // and follows the session's shuffle parallelism (scale-adaptive).
    val nPart = s.sessionState.conf.numShufflePartitions
    val trainP = train.repartition(nPart, $"doc_id")
    val testP = test.repartition(nPart, $"doc_id")
    // cached: the (lang, w) count table feeds the vocabulary, the
    // per-lang totals, AND the grid join (CLAUDE.md invariant 5 — three
    // plan branches would re-run the explode→agg otherwise)
    val cnt = trainP
      .select($"lang", explode(toks(lower($"text"))).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
      .cache()
    val vocab = cnt.select($"w").distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val nl = cnt.groupBy($"lang").agg(sum($"c").as("n"))
    val pri = train.groupBy($"lang").agg(count(lit(1)).as("dl"))
    // r15: the train-doc total is the sum of the per-lang counts — one
    // L-row aggregate instead of another full scan of the train split
    // (identical value: every doc lands in exactly one lang group).
    val tot = trainTotal(pri)
    val grid = vocab
      .crossJoin(broadcast(pri.select($"lang")))
      .join(cnt, Seq("lang", "w"), "left")
      .join(broadcast(nl), "lang")
      .crossJoin(broadcast(vsize))
      .select($"lang", $"w",
        log((coalesce($"c", lit(0L)) + lit(1L)).cast("double") / ($"n" + $"v"))
          .as("lr"))
    val ll = testP
      .select($"doc_id", $"lang".as("true_lang"), explode(toks(lower($"text"))).as("w"))
      .join(grid.withColumnRenamed("lang", "cand_lang"), "w")
      .groupBy($"doc_id", $"true_lang", $"cand_lang")
      .agg(dsum($"lr").as("llsum"))
    val sc = ll
      .join(broadcast(pri.withColumnRenamed("lang", "cand_lang")), "cand_lang")
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"true_lang", $"cand_lang",
        r(log($"dl".cast("double") / $"dt") + $"llsum", 6).as("score"))
    sc
      .groupBy($"doc_id", $"true_lang")
      .agg(min(struct((-$"score").as("ns"), $"cand_lang".as("l"))).as("b"))
      .select($"doc_id", $"true_lang".as("lang"), $"b.l".as("pred_lang"),
        r(-$"b.ns", 6).as("score"),
        ($"true_lang" === $"b.l").cast("int").as("correct"))
      // r14 perf: the output is one row per scored test doc (≤ the h=9
      // split) — a global orderBy pays a range-sampling pass for a frame
      // this small. repartition(1) + in-partition sort is the same total
      // order with ONE exchange and no sampling; the wide exchange (not
      // coalesce — which would collapse the exchange-free scoring chain
      // above into one task, measured 2×) keeps upstream 32-way, and
      // downstream panel consumers pay 1-task stages.
      .repartition(1)
      .sortWithinPartitions($"doc_id")
  }

  /** ml05's train-doc total over its per-lang counts `pri(lang, dl)` — 0
    * for an empty train split, like the count of the split it replaced
    * (a bare sum over zero rows would be NULL). */
  private[graft] def trainTotal(pri: DataFrame): DataFrame =
    pri.agg(coalesce(sum(col("dl")), lit(0L)).as("dt"))

  /** ml05's DuckDB training/scoring CTE block (ends in `rk`, the ranked
    * per-(doc, candidate) scores) — shared with ml08's evaluation so the
    * predictions being evaluated are the predictions being checked. */
  private def ml05Ctes: String =
    s"""sp AS (SELECT doc_id, lang, text,
           ${DedupLsh.h60Sql("doc_id::VARCHAR")} % 10 AS h FROM documents),
       tr AS (SELECT * FROM sp WHERE h <= 7),
       te AS (SELECT * FROM sp WHERE h = 9),
       cnt AS (SELECT lang, w, count(*) AS c FROM
           (SELECT lang, unnest(${toksSql("lower(text)")}) AS w FROM tr)
         GROUP BY lang, w),
       voc AS (SELECT DISTINCT w FROM cnt),
       vs AS (SELECT count(*) AS v FROM voc),
       nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY lang),
       pri AS (SELECT lang, count(*) AS dl FROM tr GROUP BY lang),
       tot AS (SELECT count(*) AS dt FROM tr),
       grid AS (SELECT p.lang, voc.w,
           ln((coalesce(cnt.c, 0) + 1) / (nl.n + vs.v)) AS lr
         FROM voc CROSS JOIN (SELECT lang FROM pri) p
         LEFT JOIN cnt ON cnt.lang = p.lang AND cnt.w = voc.w
         JOIN nl ON nl.lang = p.lang CROSS JOIN vs),
       ti AS (SELECT doc_id, lang AS true_lang,
           unnest(${toksSql("lower(text)")}) AS w FROM te),
       ll AS (SELECT doc_id, true_lang, g.lang AS cand_lang,
           ${dsumSql("g.lr")} AS llsum
         FROM ti JOIN grid g USING (w)
         GROUP BY doc_id, true_lang, g.lang),
       sc AS (SELECT doc_id, true_lang, cand_lang,
           ${rSql("ln(CAST(pri.dl AS DOUBLE) / tot.dt) + llsum", 6)} AS score
         FROM ll JOIN pri ON pri.lang = cand_lang CROSS JOIN tot),
       rk AS (SELECT doc_id, true_lang, cand_lang, score,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, cand_lang ASC) AS rn FROM sc)"""

  val ml05Sql: String =
    s"""WITH $ml05Ctes
       SELECT doc_id, true_lang AS lang, cand_lang AS pred_lang,
         ${rSql("score", 6)} AS score,
         CAST(true_lang = cand_lang AS INTEGER) AS correct
       FROM rk WHERE rn = 1
       ORDER BY doc_id"""

  // --- ml08: classifier evaluation report ---------------------------------

  /** ml08's evaluation core over any predictions frame with (lang,
    * pred_lang, correct) columns: per-class support / predicted / true
    * positives → precision, recall, F1 (rounded; zero-denominator classes
    * score 0), plus a leading `_micro` row (micro-averaged P = R = F1 =
    * accuracy). The per-class tp is identical computed from the actual or
    * the predicted side (correct ⇒ both classes are the same label), which
    * is what lets the full-outer join coalesce them. */
  private[graft] def classifierEval(preds: DataFrame): DataFrame = {
    val s = preds.sparkSession
    import s.implicits._
    val a = preds.groupBy($"lang")
      .agg(count(lit(1)).as("support"), sum($"correct").as("tpa"))
    val p = preds.groupBy($"pred_lang")
      .agg(count(lit(1)).as("predicted"), sum($"correct").as("tpp"))
      .withColumnRenamed("pred_lang", "lang")
    val j = a.join(p, Seq("lang"), "full_outer")
      .select($"lang",
        coalesce($"support", lit(0L)).as("support"),
        coalesce($"predicted", lit(0L)).as("predicted"),
        coalesce($"tpa", $"tpp", lit(0L)).as("tp"))
    val micro = preds
      .agg(count(lit(1)).as("support"), sum($"correct").as("tp"))
      .select(lit("_micro").as("lang"), $"support",
        $"support".as("predicted"), $"tp")
    j.unionByName(micro)
      .select($"lang", $"support", $"predicted", $"tp",
        when($"predicted" > 0, r($"tp".cast("double") / $"predicted", 6))
          .otherwise(0.0).as("prec"),
        when($"support" > 0, r($"tp".cast("double") / $"support", 6))
          .otherwise(0.0).as("rec"))
      .withColumn("f1",
        when($"prec" + $"rec" > 0.0,
          r(lit(2.0) * $"prec" * $"rec" / ($"prec" + $"rec"), 6)).otherwise(0.0))
      .orderBy($"lang")
  }

  /** ml08 — per-class evaluation of the ml05 Naive Bayes classifier (the
    * classifier-family sibling of e08's ANN recall report: quality as an
    * oracle-checked per-round number, not a claim in a doc). One row per
    * lang appearing as truth or prediction — support, predicted count,
    * true positives, precision/recall/F1 — plus the `_micro` accuracy row.
    *
    * Scale shape: ml05's plan (already linear, cached once: the report
    * reads it in three branches) followed by two map-side-combinable
    * aggregations over the ≤|test| prediction rows and an L-row
    * full-outer join — the report itself is free at any corpus size. */
  def ml08ClassifierEval(s: SparkSession, dir: String): DataFrame =
    classifierEval(ml05NaiveBayes(s, dir).cache()) // three eval branches

  /** The evaluation tail shared by ml08's and ml10's oracles: expects a
    * CTE `pred(lang, pred_lang, correct)` in scope and emits the
    * ea/…/pr2 block plus the final per-class + `_micro` select (ONE
    * source of truth — the ml08/ml10 pair previously carried two copies
    * and a rename in one silently broke the other). */
  private def evalTailSql: String =
    s"""ea AS (SELECT lang, count(*) AS support,
           CAST(sum(correct) AS BIGINT) AS tpa FROM pred GROUP BY lang),
       ep AS (SELECT pred_lang AS lang, count(*) AS predicted,
           CAST(sum(correct) AS BIGINT) AS tpp FROM pred GROUP BY pred_lang),
       ej AS (SELECT coalesce(ea.lang, ep.lang) AS lang,
           CAST(coalesce(ea.support, 0) AS BIGINT) AS support,
           CAST(coalesce(ep.predicted, 0) AS BIGINT) AS predicted,
           CAST(coalesce(ea.tpa, ep.tpp, 0) AS BIGINT) AS tp
         FROM ea FULL OUTER JOIN ep ON ea.lang = ep.lang),
       em AS (SELECT '_micro' AS lang, CAST(count(*) AS BIGINT) AS support,
           CAST(count(*) AS BIGINT) AS predicted,
           CAST(sum(correct) AS BIGINT) AS tp FROM pred),
       eu AS (SELECT * FROM ej UNION ALL SELECT * FROM em),
       pr2 AS (SELECT lang, support, predicted, tp,
           CASE WHEN predicted > 0 THEN ${rSql("tp / predicted", 6)}
                ELSE 0.0 END AS prec,
           CASE WHEN support > 0 THEN ${rSql("tp / support", 6)}
                ELSE 0.0 END AS rec
         FROM eu)
       SELECT lang, support, predicted, tp, prec, rec,
         CASE WHEN prec + rec > 0 THEN ${rSql("2.0 * prec * rec / (prec + rec)", 6)}
              ELSE 0.0 END AS f1
       FROM pr2
       ORDER BY lang"""

  val ml08Sql: String =
    s"""WITH $ml05Ctes,
       pred AS (SELECT doc_id, true_lang AS lang, cand_lang AS pred_lang,
           CAST(true_lang = cand_lang AS INTEGER) AS correct
         FROM rk WHERE rn = 1),
       $evalTailSql"""

  // --- ml21: evaluation of d03's heuristic lang-id -------------------------

  /** ml21 — per-class evaluation of d03's stopword lang-id heuristic
    * through the SAME [[classifierEval]] core as ml08/ml10: d03 ships a
    * per-doc `correct` flag but no aggregate quality number; this closes
    * the loop (support / predicted / P / R / F1 per lang + `_micro`
    * accuracy), making the heuristic's quality an oracle-checked
    * per-round number like the trained classifiers'. Null labels
    * coalesce to '' so the class axis is total. Scale shape: d03's
    * scan-local scoring followed by the eval's two L-row aggregations. */
  def ml21LangidEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    classifierEval(TextOps.d03LangId(s, dir)
      .select(coalesce($"actual_lang", lit("")).as("lang"),
        $"predicted_lang".as("pred_lang"), $"correct"))
  }

  val ml21Sql: String =
    s"""WITH pred AS (SELECT coalesce(actual_lang, '') AS lang,
         predicted_lang AS pred_lang, correct
       FROM (${TextOps.d03Sql}) d3),
       $evalTailSql"""

  // --- ml27: majority-vote ensemble of the three lang classifiers ----------

  /** The vote rule as one shared text: NB and kNN and the d03 heuristic
    * each cast one vote; any 2-of-3 majority wins, a three-way split
    * falls back to the NB prediction (deterministic, no randomness). */
  private val VoteSql =
    "CASE WHEN pa = pb OR pa = pc THEN pa WHEN pb = pc THEN pb ELSE pa END"

  /** ml27 — majority-vote ensemble of ml05 (Naive Bayes), ml07 (kNN) and
    * d03 (stopword heuristic) on the docs all three score, evaluated
    * through the SAME [[classifierEval]] core (the classic cheap
    * ensemble: three INDEPENDENTLY-derived predictors — parametric,
    * memory-based, rule-based — vote per doc; ml22/ml24 measure whether
    * they disagree enough for voting to help, ml27 reports what the vote
    * actually buys). All three prediction plans compose in the oracle
    * (ml22's nested-WITH trick, plus d03's scoring subquery), so the
    * ensembled predictions are the checked predictions.
    *
    * Scale shape: the three classifiers' own plans + two doc_id joins on
    * the ≤128-row budget + the eval's L-row aggregations. */
  def ml27EnsembleEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = ml05NaiveBayes(s, dir)
      .select($"doc_id", coalesce($"lang", lit("")).as("lang"), $"pred_lang".as("pa"))
    val knn = ml07KnnClassify(s, dir).select($"doc_id", $"pred_lang".as("pb"))
    val heur = TextOps.d03LangId(s, dir).select($"doc_id", $"predicted_lang".as("pc"))
    // classifierEval reads the votes in three branches: cache them once
    classifierEval(majorityVote(nb.join(knn, "doc_id").join(heur, "doc_id")).cache())
  }

  /** The vote applied to (lang, pa, pb, pc) rows → (lang, pred_lang,
    * correct) — exposed so the spec can pin every branch of the rule. */
  private[graft] def majorityVote(j: DataFrame): DataFrame = {
    val s = j.sparkSession
    import s.implicits._
    j.withColumn("pred_lang", expr(VoteSql))
      .select($"lang", $"pred_lang",
        ($"lang" === $"pred_lang").cast("int").as("correct"))
  }

  // lazy: ml07Ctes reads constants defined later in the file (ml22's lesson)
  lazy val ml27Sql: String =
    s"""WITH p1 AS (SELECT doc_id, lang, pa FROM (
         WITH $ml05Ctes
         SELECT doc_id, coalesce(true_lang, '') AS lang, cand_lang AS pa
         FROM rk WHERE rn = 1) z1),
       p2 AS (SELECT doc_id, pb FROM (
         WITH $ml07Ctes
         SELECT qid AS doc_id, nl AS pb FROM pr WHERE rn = 1) z2),
       p3 AS (SELECT doc_id, predicted_lang AS pc FROM (${TextOps.d03Sql}) z3),
       pred AS (SELECT lang, $VoteSql AS pred_lang,
           CAST(lang = ($VoteSql) AS INTEGER) AS correct
         FROM p1 JOIN p2 USING (doc_id) JOIN p3 USING (doc_id)),
       $evalTailSql"""

  // --- ml34: Cochran's Q over the three lang classifiers -------------------

  /** The Q statistic text over the integer marginals (g_j = per-classifier
    * corrects, t = Σg, sl2 = Σ per-doc L²): for k = 3,
    * Q = (k−1)(k·Σg² − t²) / (k·t − ΣL²) — every term BIGINT until the
    * one shared-text division; an all-agree panel (denominator 0)
    * degenerates to 0. */
  private val CochranQ: String =
    "CAST(2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3) - t * t) AS DOUBLE)" +
      " / CAST(3 * t - sl2 AS DOUBLE)"

  /** ml34 — Cochran's Q test (1950) across ALL THREE lang classifiers on
    * the shared budgeted test docs: ml22's McNemar generalized from a
    * pair to the k = 3 panel {ml05 Naive Bayes, ml07 kNN, d03 heuristic}
    * — "do these classifiers have equal error rates?" asked ONCE with
    * the correct paired statistic instead of three pairwise tests
    * (χ²_{k−1} under H₀; McNemar IS Cochran's Q at k = 2). Integer
    * marginals end-to-end; the three classifier plans are independent
    * stages of the one job, which Spark schedules concurrently. One row.
    *
    * Scale shape: the classifiers' own budgeted plans + one equi-join on
    * the ≤128-doc test set + a single global aggregate. */
  /** κ's shared statistic text over exact integers (s2 = Σᵢₖ n²ᵢₖ,
    * ck2 = Σₖ Cₖ², nd = N as double, m = 3 raters):
    * P̄ = (s2 − 3N)/(6N), P̄ₑ = ck2/(9N²), κ = (P̄ − P̄ₑ)/(1 − P̄ₑ). */
  private val FleissPb = "(CAST(s2 AS DOUBLE) - 3.0 * nd) / (6.0 * nd)"
  private val FleissPe = "CAST(ck2 AS DOUBLE) / (9.0 * nd * nd)"
  private val FleissK = s"(($FleissPb) - ($FleissPe)) / (1.0 - ($FleissPe))"

  /** ml37 — Fleiss' kappa (1971) across the THREE lang classifiers'
    * PREDICTED LABELS: chance-corrected multi-rater agreement over the
    * full category set — the annotation-pipeline statistic (three LLM
    * labelers, three heuristics, …) that ml24's Cohen kappa cannot give
    * beyond a pair and ml34's Cochran Q reduces to correct/incorrect.
    * Every moment is an exact integer (per-item category counts n_ik,
    * their squares, the category marginals' squares); the one shared
    * expression text does the double divisions. A single-category panel
    * (P̄ₑ = 1) degenerates to κ = 1 by convention (agreement is perfect).
    *
    * Scale shape: one explode (3 rows/item), two grouped integer
    * aggregations, a two-row cross join — map-side combinable
    * throughout; the classifier plans dominate (ml27's shape). */
  def ml37FleissKappa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = ml05NaiveBayes(s, dir).select($"doc_id", $"pred_lang".as("pa"))
    val knn = ml07KnnClassify(s, dir).select($"doc_id", $"pred_lang".as("pb"))
    val heur = TextOps.d03LangId(s, dir).select($"doc_id", $"predicted_lang".as("pc"))
    fleissKappa(nb.join(knn, "doc_id").join(heur, "doc_id"))
  }

  /** ml37's core over (doc_id, pa, pb, pc) label rows — exposed so the
    * spec can pin a hand-computed κ and the degeneracies. */
  private[graft] def fleissKappa(j: DataFrame): DataFrame = {
    val s = j.sparkSession
    import s.implicits._
    val nik = j
      .select($"doc_id", explode(array($"pa", $"pb", $"pc")).as("label"))
      .groupBy($"doc_id", $"label").agg(count(lit(1)).as("nik"))
      .cache() // feeds the item AND category moments
    val items = nik.agg(countDistinct($"doc_id").as("n_docs"),
      sum($"nik" * $"nik").as("s2"))
    val cats = nik.groupBy($"label").agg(sum($"nik").as("ck"))
      .agg(count(lit(1)).as("n_categories"), sum($"ck" * $"ck").as("ck2"))
    items.crossJoin(cats)
      .withColumn("nd", $"n_docs".cast("double"))
      .select($"n_docs", $"n_categories", $"s2", $"ck2",
        r(expr(FleissPb), 6).as("p_bar"),
        r(expr(FleissPe), 6).as("p_exp"),
        when(expr(s"1.0 - ($FleissPe)") > 0, r(expr(FleissK), 6))
          .otherwise(1.0).as("kappa"))
  }

  // lazy: ml05Ctes/ml07Ctes read constants defined later (ml22's lesson)
  lazy val ml37Sql: String =
    s"""WITH p1 AS (SELECT doc_id, pa FROM (
         WITH $ml05Ctes
         SELECT doc_id, cand_lang AS pa FROM rk WHERE rn = 1) z1),
       p2 AS (SELECT doc_id, pb FROM (
         WITH $ml07Ctes
         SELECT qid AS doc_id, nl AS pb FROM pr WHERE rn = 1) z2),
       p3 AS (SELECT doc_id, predicted_lang AS pc FROM (${TextOps.d03Sql}) z3),
       votes AS (SELECT doc_id, unnest([pa, pb, pc]) AS label
         FROM p1 JOIN p2 USING (doc_id) JOIN p3 USING (doc_id)),
       nik AS (SELECT doc_id, label, CAST(count(*) AS BIGINT) AS nik
         FROM votes GROUP BY doc_id, label),
       items AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(nik * nik) AS BIGINT) AS s2
         FROM nik),
       cats AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
           CAST(sum(ck * ck) AS BIGINT) AS ck2
         FROM (SELECT label, CAST(sum(nik) AS BIGINT) AS ck
               FROM nik GROUP BY label) cm),
       m AS (SELECT n_docs, n_categories, s2, ck2,
           CAST(n_docs AS DOUBLE) AS nd
         FROM items, cats)
       SELECT n_docs, n_categories, s2, ck2,
         ${rSql(FleissPb, 6)} AS p_bar,
         ${rSql(FleissPe, 6)} AS p_exp,
         CASE WHEN 1.0 - ($FleissPe) > 0 THEN ${rSql(FleissK, 6)}
              ELSE 1.0 END AS kappa
       FROM m"""

  /** ml38's shared texts over ml37's EXACT SAME integer moments (s2 =
    * Σᵢₖ n²ᵢₖ, ck2 = Σₖ Cₖ², nd = items, nv = 3·nd total values):
    * D_o = (9N − s2)/(6N) — note D_o ≡ 1 − Fleiss P̄ — and the
    * (n choose 2)-corrected D_e = (nv² − ck2)/(nv(nv−1)). */
  private val KrDo = "((9.0 * nd - CAST(s2 AS DOUBLE)) / (6.0 * nd))"
  private val KrDe =
    "(((nv * nv) - CAST(ck2 AS DOUBLE)) / (nv * (nv - 1.0)))"
  private val KrAlpha = s"(1.0 - $KrDo / $KrDe)"

  /** ml38 — Krippendorff's alpha (nominal) across the same three-
    * classifier label panel as ml37: the OTHER standard multi-rater
    * agreement statistic annotation pipelines report alongside Fleiss'
    * kappa — they differ only in the chance model (Fleiss squares the
    * pooled marginals; alpha uses the exact without-replacement
    * (n choose 2) correction, so alpha > kappa slightly at any finite
    * n and they converge as n grows — a relationship the spec pins).
    * Identical integer moments (shared aggregation shape), different
    * final texts; the all-one-category panel (D_e = 0) takes the
    * pinned alpha = 1 convention (agreement is perfect).
    *
    * Scale shape: ml37's — one explode, two grouped integer
    * aggregations; the classifier plans dominate. */
  def ml38KrippendorffAlpha(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = ml05NaiveBayes(s, dir).select($"doc_id", $"pred_lang".as("pa"))
    val knn = ml07KnnClassify(s, dir).select($"doc_id", $"pred_lang".as("pb"))
    val heur = TextOps.d03LangId(s, dir).select($"doc_id", $"predicted_lang".as("pc"))
    krippendorffAlpha(nb.join(knn, "doc_id").join(heur, "doc_id"))
  }

  /** ml38's core over (doc_id, pa, pb, pc) label rows — exposed so the
    * spec can pin a hand-computed alpha and the degeneracies. */
  private[graft] def krippendorffAlpha(j: DataFrame): DataFrame = {
    val s = j.sparkSession
    import s.implicits._
    val nik = j
      .select($"doc_id", explode(array($"pa", $"pb", $"pc")).as("label"))
      .groupBy($"doc_id", $"label").agg(count(lit(1)).as("nik"))
      .cache() // feeds the item AND category moments
    val items = nik.agg(countDistinct($"doc_id").as("n_docs"),
      sum($"nik" * $"nik").as("s2"))
    val cats = nik.groupBy($"label").agg(sum($"nik").as("ck"))
      .agg(count(lit(1)).as("n_categories"), sum($"ck" * $"ck").as("ck2"))
    items.crossJoin(cats)
      .withColumn("nd", $"n_docs".cast("double"))
      .withColumn("nv", $"n_docs".cast("double") * 3.0)
      .select($"n_docs", $"n_categories", $"s2", $"ck2",
        r(expr(KrDo), 6).as("d_obs"),
        when(expr(KrDe) > 0, r(expr(KrDe), 6)).otherwise(0.0).as("d_exp"),
        when(expr(KrDe) > 0, r(expr(KrAlpha), 6)).otherwise(1.0).as("alpha"))
  }

  // lazy: ml05Ctes/ml07Ctes read constants defined later (ml22's lesson)
  lazy val ml38Sql: String =
    s"""WITH p1 AS (SELECT doc_id, pa FROM (
         WITH $ml05Ctes
         SELECT doc_id, cand_lang AS pa FROM rk WHERE rn = 1) z1),
       p2 AS (SELECT doc_id, pb FROM (
         WITH $ml07Ctes
         SELECT qid AS doc_id, nl AS pb FROM pr WHERE rn = 1) z2),
       p3 AS (SELECT doc_id, predicted_lang AS pc FROM (${TextOps.d03Sql}) z3),
       votes AS (SELECT doc_id, unnest([pa, pb, pc]) AS label
         FROM p1 JOIN p2 USING (doc_id) JOIN p3 USING (doc_id)),
       nik AS (SELECT doc_id, label, CAST(count(*) AS BIGINT) AS nik
         FROM votes GROUP BY doc_id, label),
       items AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(nik * nik) AS BIGINT) AS s2
         FROM nik),
       cats AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
           CAST(sum(ck * ck) AS BIGINT) AS ck2
         FROM (SELECT label, CAST(sum(nik) AS BIGINT) AS ck
               FROM nik GROUP BY label) cm),
       m AS (SELECT n_docs, n_categories, s2, ck2,
           CAST(n_docs AS DOUBLE) AS nd, CAST(n_docs AS DOUBLE) * 3.0 AS nv
         FROM items, cats)
       SELECT n_docs, n_categories, s2, ck2,
         ${rSql(KrDo, 6)} AS d_obs,
         CASE WHEN $KrDe > 0 THEN ${rSql(KrDe, 6)} ELSE 0.0 END AS d_exp,
         CASE WHEN $KrDe > 0 THEN ${rSql(KrAlpha, 6)} ELSE 1.0 END AS alpha
       FROM m"""

  /** ml39 — paired Poisson-bootstrap comparison of the NB and kNN
    * classifiers: IS the accuracy difference real? ml22's McNemar gives
    * a p-value from discordant counts; the bootstrap gives the thing a
    * model-selection pipeline actually consumes — a CONFIDENCE INTERVAL
    * on the paired accuracy delta (resample docs, not predictions: the
    * pairing rides along, so shared-doc difficulty cancels). q48's
    * deterministic Poisson(1) machinery verbatim (u = h60(doc:b)/2⁵³
    * through literal CDF thresholds — the whole resampling mirrors in
    * DuckDB); replicate deltas round at 6dp; the CI is the exact
    * p05/p95 of the [[Analytics.BootB]] replicate deltas via the proven
    * percentile pairing. A replicate whose weights all land 0 drops out
    * (sum(w) = 0 — never happens past tiny n; the spec's constant
    * panels pin the collapse behavior).
    *
    * Scale shape: the classifier plans dominate (ml22's shape); the
    * bootstrap is one ×32 explode of the ≤128-doc panel. */
  def ml39PairedBootstrap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = ml05NaiveBayes(s, dir).select($"doc_id", $"correct".cast("long").as("c1"))
    val knn = ml07KnnClassify(s, dir).select($"doc_id", $"correct".cast("long").as("c2"))
    pairedBootstrap(nb.join(knn, "doc_id")
      .select($"doc_id", ($"c1" - $"c2").as("d")))
  }

  /** ml39's core over (doc_id, d) paired-difference rows — exposed so
    * the spec can pin the constant-panel collapse laws. */
  private[graft] def pairedBootstrap(panel: DataFrame): DataFrame = {
    val s = panel.sparkSession
    import s.implicits._
    val docs = panel.cache() // feeds replicates + the point estimate
    val reps = docs
      .select($"doc_id", $"d",
        explode(sequence(lit(0), lit(Analytics.BootB - 1))).as("b"))
      .withColumn("u",
        (DedupLsh.h60(concat($"doc_id".cast("string"), lit(":"), $"b".cast("string")))
          % lit(9007199254740992L)).cast("double") / lit(9007199254740992.0))
      .withColumn("w",
        when($"u" < Analytics.PoisCdf(0), 0).when($"u" < Analytics.PoisCdf(1), 1)
          .when($"u" < Analytics.PoisCdf(2), 2).when($"u" < Analytics.PoisCdf(3), 3)
          .otherwise(4))
    val bm = reps.groupBy($"b")
      .agg(sum($"w").as("sw"), Num.dsum($"w" * $"d").as("swd"))
      .filter($"sw" > 0)
      .select(r($"swd" / $"sw".cast("double"), 6).as("db"))
    val ci = bm.agg(count(lit(1)).as("n_reps"),
      r(percentile($"db", lit(0.05)), 6).as("boot_lo"),
      r(percentile($"db", lit(0.95)), 6).as("boot_hi"))
    docs.agg(count(lit(1)).as("n_docs"), r(Num.davg($"d"), 6).as("delta_obs"))
      .crossJoin(broadcast(ci))
      .select($"n_docs", $"delta_obs", $"n_reps", $"boot_lo", $"boot_hi")
  }

  // lazy: ml05Ctes/ml07Ctes read constants defined later (ml22's lesson)
  lazy val ml39Sql: String = {
    val wCase = s"""CASE WHEN u < ${Analytics.PoisCdf(0)} THEN 0
      WHEN u < ${Analytics.PoisCdf(1)} THEN 1 WHEN u < ${Analytics.PoisCdf(2)} THEN 2
      WHEN u < ${Analytics.PoisCdf(3)} THEN 3 ELSE 4 END"""
    s"""WITH p1 AS (SELECT doc_id, c1 FROM (
         WITH $ml05Ctes
         SELECT doc_id, CAST(true_lang = cand_lang AS BIGINT) AS c1
         FROM rk WHERE rn = 1) z1),
       p2 AS (SELECT doc_id, c2 FROM (
         WITH $ml07Ctes
         SELECT qid AS doc_id, CAST(tl = nl AS BIGINT) AS c2
         FROM pr WHERE rn = 1) z2),
       pan AS MATERIALIZED (SELECT doc_id, c1 - c2 AS d
         FROM p1 JOIN p2 USING (doc_id)),
       rep AS (SELECT doc_id, d, unnest(range(0, ${Analytics.BootB})) AS b
         FROM pan),
       uu AS (SELECT d, b,
         CAST(${DedupLsh.h60Sql("doc_id::VARCHAR || ':' || b::VARCHAR")}
           % 9007199254740992 AS DOUBLE) / 9007199254740992.0 AS u
       FROM rep),
       ww AS (SELECT d, b, $wCase AS w FROM uu),
       bm AS (SELECT b, ${rSql(
             s"${Num.dsumSql("w * d")} / CAST(sum(w) AS BIGINT)", 6)} AS db
         FROM ww GROUP BY b HAVING sum(w) > 0),
       ci AS (SELECT count(*) AS n_reps,
           ${rSql("quantile_cont(db, 0.05)", 6)} AS boot_lo,
           ${rSql("quantile_cont(db, 0.95)", 6)} AS boot_hi
         FROM bm),
       base AS (SELECT count(*) AS n_docs,
           ${rSql(Num.davgSql("d"), 6)} AS delta_obs FROM pan)
       SELECT n_docs, delta_obs, n_reps, boot_lo, boot_hi
       FROM base CROSS JOIN ci"""
  }

  def ml34CochranQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = ml05NaiveBayes(s, dir).select($"doc_id",
      coalesce($"lang", lit("")).as("lang"), $"correct".as("c1"))
    val knn = ml07KnnClassify(s, dir).select($"doc_id", $"correct".as("c2"))
    val heur = TextOps.d03LangId(s, dir).select($"doc_id", $"predicted_lang".as("pc"))
    cochranQ(nb.join(knn, "doc_id").join(heur, "doc_id")
      .select($"c1", $"c2", ($"lang" === $"pc").cast("int").as("c3")))
  }

  /** ml34's core over explicit (c1, c2, c3) correctness rows — exposed
    * so the spec can pin a hand-computed Q and the all-agree degeneracy. */
  private[graft] def cochranQ(rx: DataFrame): DataFrame = {
    val s = rx.sparkSession
    import s.implicits._
    rx.agg(count(lit(1)).as("n_docs"),
        sum($"c1".cast("long")).as("g1"),
        sum($"c2".cast("long")).as("g2"),
        sum($"c3".cast("long")).as("g3"),
        sum((($"c1" + $"c2" + $"c3") * ($"c1" + $"c2" + $"c3")).cast("long"))
          .as("sl2"))
      .withColumn("t", $"g1" + $"g2" + $"g3")
      .select($"n_docs", $"g1", $"g2", $"g3",
        // rounding via the Column r(): rSql's decimal literals inside a
        // Spark expr would surface a DECIMAL column (the q11 lesson)
        when(expr("3 * t - sl2") > 0, r(expr(CochranQ), 6))
          .otherwise(0.0).as("q_stat"))
  }

  // lazy: ml05Ctes/ml07Ctes read constants defined later (ml22's lesson)
  lazy val ml34Sql: String =
    s"""WITH p1 AS (SELECT doc_id, lang, c1 FROM (
         WITH $ml05Ctes
         SELECT doc_id, coalesce(true_lang, '') AS lang,
           CAST(true_lang = cand_lang AS INTEGER) AS c1
         FROM rk WHERE rn = 1) z1),
       p2 AS (SELECT doc_id, c2 FROM (
         WITH $ml07Ctes
         SELECT qid AS doc_id, CAST(tl = nl AS INTEGER) AS c2
         FROM pr WHERE rn = 1) z2),
       p3 AS (SELECT doc_id, predicted_lang AS pc FROM (${TextOps.d03Sql}) z3),
       rx AS (SELECT c1, c2, CAST(lang = pc AS INTEGER) AS c3
         FROM p1 JOIN p2 USING (doc_id) JOIN p3 USING (doc_id)),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(c1) AS BIGINT) AS g1, CAST(sum(c2) AS BIGINT) AS g2,
           CAST(sum(c3) AS BIGINT) AS g3,
           CAST(sum((c1 + c2 + c3) * (c1 + c2 + c3)) AS BIGINT) AS sl2
         FROM rx),
       mt AS (SELECT *, g1 + g2 + g3 AS t FROM m)
       SELECT n_docs, g1, g2, g3,
         CASE WHEN 3 * t - sl2 > 0 THEN ${rSql(CochranQ, 6)}
              ELSE 0.0 END AS q_stat
       FROM mt"""

  // --- ml22: McNemar paired comparison of ml05 vs ml07 ---------------------

  /** ml22 — McNemar's paired test between the two lang classifiers on
    * the docs BOTH scored (ml07's budgeted test subset of the shared h60
    * split): the discordant-pair counts b (only NB right) / c (only kNN
    * right) and χ² = (b−c)²/(b+c) — the statistically-sound way to claim
    * "model A beats model B" on a shared test set (marginal accuracies
    * alone ignore pairing). Evals share their classifiers' full CTE
    * blocks (nested WITH subqueries — ml05Ctes/ml07Ctes bind a
    * conflicting `sp`), so the compared predictions are the checked
    * predictions. One row; b + c = 0 degenerates to χ² = 0.
    *
    * Scale shape: the two classifiers' own plans plus a doc_id equi-join
    * on the ≤128-row budget and a single global aggregate. */
  def ml22Mcnemar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = ml05NaiveBayes(s, dir).select($"doc_id", $"correct".as("c_nb"))
    val knn = ml07KnnClassify(s, dir).select($"doc_id", $"correct".as("c_knn"))
    nb.join(knn, "doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(($"c_nb" * $"c_knn").cast("long")).as("both_right"),
        sum(($"c_nb" * (lit(1) - $"c_knn")).cast("long")).as("only_nb"),
        sum(((lit(1) - $"c_nb") * $"c_knn").cast("long")).as("only_knn"),
        sum(((lit(1) - $"c_nb") * (lit(1) - $"c_knn")).cast("long")).as("both_wrong"))
      .select($"n_pairs", $"both_right", $"only_nb", $"only_knn", $"both_wrong",
        when($"only_nb" + $"only_knn" > 0,
          r((($"only_nb" - $"only_knn") * ($"only_nb" - $"only_knn")).cast("double") /
            ($"only_nb" + $"only_knn").cast("double"), 6)).otherwise(0.0).as("chi2"),
        r(($"both_right" + $"only_nb").cast("double") / $"n_pairs".cast("double"), 6).as("acc_nb"),
        r(($"both_right" + $"only_knn").cast("double") / $"n_pairs".cast("double"), 6).as("acc_knn"))
  }

  // lazy: ml07Ctes reads KnnK/KnnBudget vals defined LATER in this file —
  // a strict val here would interpolate them as 0 (object-init order)
  lazy val ml22Sql: String =
    s"""WITH p1 AS (SELECT doc_id, correct FROM (
         WITH $ml05Ctes
         SELECT doc_id, CAST(true_lang = cand_lang AS INTEGER) AS correct
         FROM rk WHERE rn = 1) z1),
       p2 AS (SELECT doc_id, correct FROM (
         WITH $ml07Ctes
         SELECT qid AS doc_id, CAST(tl = nl AS INTEGER) AS correct
         FROM pr WHERE rn = 1) z2),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(p1.correct * p2.correct) AS BIGINT) AS both_right,
           CAST(sum(p1.correct * (1 - p2.correct)) AS BIGINT) AS only_nb,
           CAST(sum((1 - p1.correct) * p2.correct) AS BIGINT) AS only_knn,
           CAST(sum((1 - p1.correct) * (1 - p2.correct)) AS BIGINT) AS both_wrong
         FROM p1 JOIN p2 USING (doc_id))
       SELECT n_pairs, both_right, only_nb, only_knn, both_wrong,
         CASE WHEN only_nb + only_knn > 0
              THEN ${rSql("CAST((only_nb - only_knn) * (only_nb - only_knn) AS DOUBLE) / CAST(only_nb + only_knn AS DOUBLE)", 6)}
              ELSE 0.0 END AS chi2,
         ${rSql("CAST(both_right + only_nb AS DOUBLE) / CAST(n_pairs AS DOUBLE)", 6)} AS acc_nb,
         ${rSql("CAST(both_right + only_knn AS DOUBLE) / CAST(n_pairs AS DOUBLE)", 6)} AS acc_knn
       FROM m"""

  // --- ml26: top confusion cells of the NB classifier -----------------------

  /** ml26 — error analysis of ml05: the top-10 (true → predicted)
    * confusion cells by error count with each cell's share of ALL errors
    * (ml08 reports per-class rates; ml26 names the specific confusions —
    * the table that decides which training data to go collect next).
    * One L²-bounded cell aggregation over ml05's misclassified rows, a
    * 1-row error total broadcast, TakeOrdered top-10. Oracle shares
    * `ml05Ctes` — the analyzed predictions are the checked predictions. */
  def ml26ConfusionCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    confusionCells(ml05NaiveBayes(s, dir)
      .select($"lang".as("true_lang"), $"pred_lang", $"correct"))
  }

  /** ml26's core over (true_lang, pred_lang, correct) prediction rows —
    * exposed for the hand-counted confusion spec. */
  private[graft] def confusionCells(preds: DataFrame): DataFrame = {
    val s = preds.sparkSession
    import s.implicits._
    val cells = preds.filter($"correct" === 0)
      .groupBy($"true_lang", $"pred_lang")
      .agg(count(lit(1)).as("n_errors"))
      .cache() // feeds the total and the top-k
    val tot = cells.agg(sum($"n_errors").as("tot_err"))
    cells
      .orderBy($"n_errors".desc, $"true_lang".asc, $"pred_lang".asc)
      .limit(10)
      .crossJoin(broadcast(tot))
      .filter($"tot_err" > 0)
      .select(row_number().over(Window.orderBy($"n_errors".desc,
          $"true_lang".asc, $"pred_lang".asc)).as("rk"),
        $"true_lang", $"pred_lang", $"n_errors",
        r($"n_errors".cast("double") / $"tot_err".cast("double"), 6)
          .as("err_share"))
      .orderBy($"rk")
  }

  lazy val ml26Sql: String =
    s"""WITH $ml05Ctes,
       pd AS (SELECT true_lang, cand_lang AS pred_lang FROM rk
         WHERE rn = 1 AND true_lang != cand_lang),
       cells AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT)
           AS n_errors
         FROM pd GROUP BY 1, 2),
       etot AS (SELECT CAST(sum(n_errors) AS BIGINT) AS tot_err FROM cells),
       top AS (SELECT true_lang, pred_lang, n_errors FROM cells
         ORDER BY n_errors DESC NULLS LAST, true_lang ASC, pred_lang ASC
         LIMIT 10)
       SELECT CAST(row_number() OVER (ORDER BY n_errors DESC NULLS LAST,
           true_lang ASC, pred_lang ASC) AS INTEGER) AS rk,
         true_lang, pred_lang, n_errors,
         ${rSql("CAST(n_errors AS DOUBLE) / CAST(tot_err AS DOUBLE)", 6)} AS err_share
       FROM top CROSS JOIN etot WHERE tot_err > 0
       ORDER BY rk"""

  // --- ml36: multiclass Matthews correlation over ml05's confusion ----------

  /** Shared MCC/balanced-accuracy algebra over the integer confusion
    * marginals (s, c, spt, spp, stt, rsum, ktrue) — identical text both
    * engines; the two sqrt factors stay SEPARATE (their product ~1e19
    * would lose integer exactness in a single double). */
  private val MccExpr =
    "(CAST(c AS DOUBLE) * CAST(s AS DOUBLE) - CAST(spt AS DOUBLE)) / " +
      "(sqrt(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - CAST(spp AS DOUBLE)) * " +
      "sqrt(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - CAST(stt AS DOUBLE)))"
  private val AccExpr = "CAST(c AS DOUBLE) / CAST(s AS DOUBLE)"
  private val BalAccExpr = "rsum / CAST(ktrue AS DOUBLE)"

  /** ml36 — multiclass Matthews correlation coefficient (Gorodkin 2004's
    * Rₖ — the chance-corrected single-number summary that, unlike
    * accuracy, cannot be gamed by majority-class prediction) plus
    * balanced accuracy, over ml05's language predictions: every input is
    * an INTEGER confusion marginal (per-class true totals t_k, predicted
    * totals p_k, diagonal c_k), so
    * MCC = (c·s − Σp·t) / (√(s²−Σp²)·√(s²−Σt²)) is exact integer
    * arithmetic into two bounded sqrt factors; balanced accuracy
    * averages per-class recall over classes with support (decimal
    * re-entry, order-independent). ml08 reports per-class P/R/F1, ml26
    * the error cells — ml36 is the one-row scoreboard.
    *
    * Scale shape: one uniform (true, pred) count, a ≤|langs|²-row cell
    * table, driver-sized algebra. */
  def ml36Mcc(s: SparkSession, dir: String): DataFrame =
    // mccOf's diagonal filter reaches below its shared cell count, so the
    // predictions feed two plan branches; materialized first, as a lazy
    // read ran 58 stages for the parent's 34 and a `cache()` still read
    // 3.44 → 3.95 s at sf0.1 (4 cores, 5 pairs, 1 won)
    mccOf(ml05NaiveBayes(s, dir).select(col("lang").as("true_lang"),
      col("pred_lang")).localCheckpoint(true))

  /** ml36's core over (true_lang, pred_lang) prediction rows — exposed
    * for the hand-computed confusion spec. */
  private[graft] def mccOf(preds: DataFrame): DataFrame = {
    val s = preds.sparkSession
    import s.implicits._
    val cells = preds.groupBy($"true_lang", $"pred_lang")
      .agg(count(lit(1)).as("n"))
    val t = cells.groupBy($"true_lang").agg(sum($"n").as("tk"))
    val p = cells.groupBy($"pred_lang").agg(sum($"n").as("pk"))
    val dg = cells.filter($"true_lang" === $"pred_lang")
      .select($"true_lang".as("cls"), $"n".as("ck"))
    val per = t.join(p, $"true_lang" === $"pred_lang", "full_outer")
      .select(coalesce($"true_lang", $"pred_lang").as("cls"),
        coalesce($"tk", lit(0L)).as("tk"), coalesce($"pk", lit(0L)).as("pk"))
      .join(dg, Seq("cls"), "left")
      .select($"cls", $"tk", $"pk", coalesce($"ck", lit(0L)).as("ck"))
    per.agg(
      sum($"tk").as("s"), sum($"ck").as("c"),
      sum($"pk" * $"tk").as("spt"),
      sum($"pk" * $"pk").as("spp"),
      sum($"tk" * $"tk").as("stt"),
      count(lit(1)).as("k_classes"),
      sum(when($"tk" > 0,
        ($"ck".cast("double") / $"tk".cast("double")).cast("decimal(38,10)")))
        .cast("double").as("rsum"),
      sum(when($"tk" > 0, lit(1L)).otherwise(lit(0L))).as("ktrue"))
      .filter($"s" > 0 &&
        expr("CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - CAST(spp AS DOUBLE)") > 0 &&
        expr("CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - CAST(stt AS DOUBLE)") > 0)
      .select($"s".as("n_docs"), $"k_classes",
        r(expr(AccExpr), 6).as("acc"),
        r(expr(BalAccExpr), 6).as("bal_acc"),
        r(expr(MccExpr), 6).as("mcc"))
      .orderBy($"n_docs")
  }

  lazy val ml36Sql: String =
    s"""WITH $ml05Ctes,
       pdm AS (SELECT true_lang, cand_lang AS pred_lang FROM rk WHERE rn = 1),
       cells AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         FROM pdm GROUP BY 1, 2),
       tkt AS (SELECT true_lang AS cls, CAST(sum(n) AS BIGINT) AS tk
         FROM cells GROUP BY 1),
       pkt AS (SELECT pred_lang AS cls, CAST(sum(n) AS BIGINT) AS pk
         FROM cells GROUP BY 1),
       dgt AS (SELECT true_lang AS cls, n AS ck FROM cells
         WHERE true_lang = pred_lang),
       per AS (SELECT coalesce(tkt.cls, pkt.cls) AS cls,
           coalesce(tk, 0) AS tk, coalesce(pk, 0) AS pk,
           coalesce(ck, 0) AS ck
         FROM tkt FULL OUTER JOIN pkt ON tkt.cls = pkt.cls
         LEFT JOIN dgt ON coalesce(tkt.cls, pkt.cls) = dgt.cls),
       ag AS (SELECT CAST(sum(tk) AS BIGINT) AS s,
           CAST(sum(ck) AS BIGINT) AS c,
           CAST(sum(pk * tk) AS BIGINT) AS spt,
           CAST(sum(pk * pk) AS BIGINT) AS spp,
           CAST(sum(tk * tk) AS BIGINT) AS stt,
           count(*) AS k_classes,
           CAST(sum(CASE WHEN tk > 0 THEN
             CAST(CAST(ck AS DOUBLE) / CAST(tk AS DOUBLE) AS DECIMAL(38,10))
             END) AS DOUBLE) AS rsum,
           CAST(sum(CASE WHEN tk > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ktrue
         FROM per)
       SELECT s AS n_docs, k_classes,
         ${rSql(AccExpr, 6)} AS acc,
         ${rSql(BalAccExpr, 6)} AS bal_acc,
         ${rSql(MccExpr, 6)} AS mcc
       FROM ag
       WHERE s > 0
         AND CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - CAST(spp AS DOUBLE) > 0
         AND CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - CAST(stt AS DOUBLE) > 0
       ORDER BY n_docs"""

  // --- ml24: Cohen's kappa agreement between ml05 and ml07 ------------------

  /** Shared kappa algebra over (n_pairs, n_agree, pes): observed
    * agreement, chance agreement from the marginal product sum, and the
    * chance-corrected kappa — one text per engine. */
  private val KPo = "(CAST(n_agree AS DOUBLE) / CAST(n_pairs AS DOUBLE))"
  private val KPe =
    "(CAST(pes AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE)))"
  private val KKap = s"(($KPo - $KPe) / (1.0 - $KPe))"

  /** ml24 — Cohen's kappa (Cohen 1960) between the two lang classifiers'
    * PREDICTED labels on the shared test subset: raw agreement p_o minus
    * the agreement p_e = Σ_l p_a(l)·p_b(l) two raters with these
    * marginals would reach by chance (ml22 asks "which model is
    * RIGHT more often?" via the truth; ml24 asks "do they even see the
    * same structure?" without it — the inter-annotator-agreement number
    * every labeling pipeline reports). p_o and the marginal product sum
    * are exact integers up to the final divisions; two constant raters
    * (p_e = 1) degenerate to kappa = 0 by convention.
    *
    * Scale shape: the two classifiers' own plans, a doc_id equi-join on
    * the ≤128-row budget, then label-cardinality marginal tables. */
  def ml24CohenKappa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nb = ml05NaiveBayes(s, dir).select($"doc_id", $"pred_lang".as("pa"))
    val knn = ml07KnnClassify(s, dir).select($"doc_id", $"pred_lang".as("pb"))
    cohenKappa(nb.join(knn, "doc_id").select($"pa", $"pb"))
  }

  /** ml24's core over an explicit (pa, pb) paired-prediction relation —
    * exposed so the spec can plant the classic 2×2 agreement grid. */
  private[graft] def cohenKappa(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val pp = pairs.cache() // 3 consumers of two full classifier plans
    val ag = pp.agg(count(lit(1)).as("n_pairs"),
      sum(when($"pa" === $"pb", 1L).otherwise(0L)).as("n_agree"))
    val ma = pp.groupBy($"pa".as("l")).agg(count(lit(1)).as("na"))
    val mb = pp.groupBy($"pb".as("l")).agg(count(lit(1)).as("nb"))
    val pe = ma.join(mb, "l")
      .agg(coalesce(sum($"na" * $"nb"), lit(0L)).as("pes"))
    ag.crossJoin(broadcast(pe))
      .select($"n_pairs", $"n_agree",
        r(expr(KPo), 6).as("po"), r(expr(KPe), 6).as("pe"),
        when(expr(KPe) < 1.0, r(expr(KKap), 6)).otherwise(0.0).as("kappa"))
  }

  // lazy: ml07Ctes reads KnnK/KnnBudget vals defined later in this file
  // (object-init order, ml22's lesson)
  lazy val ml24Sql: String =
    s"""WITH p1 AS (SELECT doc_id, pa FROM (
         WITH $ml05Ctes
         SELECT doc_id, cand_lang AS pa FROM rk WHERE rn = 1) z1),
       p2 AS (SELECT doc_id, pb FROM (
         WITH $ml07Ctes
         SELECT qid AS doc_id, nl AS pb FROM pr WHERE rn = 1) z2),
       pp AS MATERIALIZED (SELECT pa, pb FROM p1 JOIN p2 USING (doc_id)),
       ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         FROM pp),
       ma AS (SELECT pa AS l, count(*) AS na FROM pp GROUP BY pa),
       mb AS (SELECT pb AS l, count(*) AS nb FROM pp GROUP BY pb),
       pe AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS pes
         FROM ma JOIN mb USING (l))
       SELECT n_pairs, n_agree,
         ${rSql(KPo, 6)} AS po, ${rSql(KPe, 6)} AS pe,
         CASE WHEN $KPe < 1.0 THEN ${rSql(KKap, 6)} ELSE 0.0 END AS kappa
       FROM ag CROSS JOIN pe"""

  // --- ml06: hashed bag-of-words quality classifier (logistic GD) ---------

  private[graft] val QlrIters = 4
  private val QlrF = 8

  /** z = b + Σ wⱼfⱼ and the ml04 rational sigmoid over it — shared
    * expression text, evaluated via expr() in Spark and inlined in SQL. */
  private val qlrZ =
    "b + " + (1 to QlrF).map(j => s"w$j * f$j").mkString(" + ")
  private val qlrP = s"0.5 + 0.5 * ($qlrZ) / (1.0 + abs($qlrZ))"

  /** ml06 — the quality-classifier step of a web-corpus pipeline (GPT-3's
    * LR filter over CommonCrawl, Brown et al. 2020 Appendix A; CCNet's
    * fastText stage): logistic regression over [[QlrF]] hashed
    * bag-of-words frequency features (h60(token) mod F — the hashing
    * trick, Weinberger et al. 2009), z-scored in-plan (ml04's
    * standardization, so gradients are O(1)-scaled), trained by
    * [[QlrIters]] unrolled full-batch GD steps with ml04's rational
    * sigmoid (no libm exp → bit-portable) and the min(w)+davg(grad)
    * update shape — each
    * step is ONE map-side-combinable aggregation referencing the weight
    * row exactly once, so the unrolled lineage stays linear. Labels:
    * y = 1 for the d25 target domains (the "curated reference" side a
    * real pipeline trains against). Output: per-doc quality probability
    * + keep decision, the whole training loop hash-checked.
    *
    * Scale shape: ONE explode→aggregate builds the feature matrix (per-doc
    * key, map-side combine), each GD step shuffles only partial gradient
    * sums (9 decimal aggregates), weights broadcast back — full-batch GD's
    * natural cluster layout; feature extraction is the only corpus-sized
    * pass and is linear. */
  def ml06QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id",
      when($"source".isin(DsirTargetSrcs: _*), 1.0).otherwise(0.0).as("y"),
      $"text")
    qualityLr(docs)
  }

  /** ml06's core over a labeled (doc_id, y, text) relation — exposed so
    * the spec can verify separation on a vocabulary-separable planted
    * corpus. */
  /** z-score of raw feature j with a constant-feature guard (an all-equal
    * hash bucket — possible on a tiny planted vocabulary — has rf−mu = 0,
    * so dividing by 1 instead of 0 keeps it exactly 0). */
  private def qlrZScore(j: Int): String = {
    val mu = s"(s$j / nn)"
    val sd = s"sqrt(ss$j / nn - $mu * $mu)"
    s"(rf$j - $mu) / (CASE WHEN $sd = 0 THEN 1.0 ELSE $sd END)"
  }

  private[graft] def qualityLr(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // r14 perf: the tokenize→explode→h60 feature pass otherwise runs whole
    // inside the 1-split parquet scan task (measured single-task 1.3 s at
    // sf0.1 — per-token md5 is the amplified cost AQE cannot see). Fan out
    // by doc_id first; count pinned + session-adaptive (the ml05 pattern).
    val fRaw = docs
      .repartition(s.sessionState.conf.numShufflePartitions, $"doc_id")
      .select($"doc_id", $"y", explode(toks(lower($"text"))).as("w"))
      .withColumn("hb", DedupLsh.h60($"w") % QlrF)
      .groupBy($"doc_id", $"y")
      .agg(
        (sum(when($"hb" === 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("rf1"),
        (2 to QlrF).map(j =>
          (sum(when($"hb" === (j - 1), 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as(s"rf$j")): _*)
    val mom = fRaw.agg(
      count(lit(1)).cast("double").as("nn"),
      (1 to QlrF).flatMap(j => Seq(
        dsum(col(s"rf$j")).as(s"s$j"),
        dsum(col(s"rf$j") * col(s"rf$j")).as(s"ss$j"))): _*)
    // cached: the standardized feature matrix (ml04's z-scoring, so the
    // gradient steps are O(1)-scaled) feeds every GD step plus the final
    // scoring pass (CLAUDE.md invariant 5)
    val f = fRaw.crossJoin(broadcast(mom))
      .select((Seq($"doc_id", $"y") ++
        (1 to QlrF).map(j => expr(qlrZScore(j)).as(s"f$j"))): _*)
      .cache()
    val w0 = s.range(1).select(
      (Seq(lit(0.0).as("b")) ++ (1 to QlrF).map(j => lit(0.0).as(s"w$j"))): _*)
    def step(w: DataFrame): DataFrame =
      f.crossJoin(broadcast(w))
        .withColumn("p", expr(qlrP))
        .agg(
          (min($"b") + davg(expr("(y - p)"))).as("b"),
          (1 to QlrF).map(j =>
            (min(col(s"w$j")) + davg(expr(s"(y - p) * f$j")))
              .as(s"w$j")): _*)
    val wT = (1 to QlrIters).foldLeft(w0)((w, _) => step(w))
    f.crossJoin(broadcast(wT))
      .select($"doc_id", $"y".cast("int").as("label"),
        r(expr(qlrP), 6).as("score"))
      .withColumn("keep", ($"score" >= 0.5).cast("int"))
      .orderBy($"doc_id")
  }

  /** ml06's DuckDB CTE block (hashed features, z-scoring, the unrolled GD
    * steps — ends in `f` joined against the final weights `w{QlrIters}`) —
    * shared with ml09's calibration report so the scored probabilities
    * being calibrated are the probabilities being checked. */
  private def ml06Ctes: String = {
    val inTgt = DsirTargetSrcs.map(x => s"'$x'").mkString(", ")
    val feats = (1 to QlrF).map(j =>
      s"CAST(sum(CASE WHEN hb = ${j - 1} THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rf$j")
      .mkString(",\n           ")
    val moms = (1 to QlrF).flatMap(j => Seq(
      s"${dsumSql(s"rf$j")} AS s$j",
      s"${dsumSql(s"rf$j * rf$j")} AS ss$j")).mkString(",\n           ")
    val zcols = (1 to QlrF).map(j => s"${qlrZScore(j)} AS f$j")
      .mkString(",\n           ")
    val steps = (1 to QlrIters).map { i =>
      val upd = (1 to QlrF).map(j =>
        s"min(w$j) + ${davgSql(s"(y - p) * f$j")} AS w$j").mkString(",\n           ")
      s"""p$i AS (SELECT f.*, ww.*, $qlrP AS p
           FROM f CROSS JOIN w${i - 1} ww),
         w$i AS (SELECT min(b) + ${davgSql("(y - p)")} AS b,
           $upd FROM p$i)"""
    }.mkString(",\n       ")
    val w0cols = (Seq("CAST(0.0 AS DOUBLE) AS b") ++
      (1 to QlrF).map(j => s"CAST(0.0 AS DOUBLE) AS w$j")).mkString(", ")
    s"""ti AS (SELECT doc_id,
           CASE WHEN source IN ($inTgt) THEN 1.0 ELSE 0.0 END AS y,
           unnest(${toksSql("lower(text)")}) AS w FROM documents),
       th AS (SELECT doc_id, y, ${DedupLsh.h60Sql("w")} % $QlrF AS hb FROM ti),
       fr AS (SELECT doc_id, y,
           $feats
         FROM th GROUP BY doc_id, y),
       mom AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
           $moms
         FROM fr),
       f AS MATERIALIZED (SELECT doc_id, y,
           $zcols
         FROM fr CROSS JOIN mom),
       w0 AS (SELECT $w0cols),
       $steps"""
  }

  val ml06Sql: String =
    s"""WITH $ml06Ctes
       SELECT doc_id, CAST(y AS INTEGER) AS label,
         ${rSql(qlrP, 6)} AS score,
         CAST(${rSql(qlrP, 6)} >= 0.5 AS INTEGER) AS keep
       FROM f CROSS JOIN w$QlrIters
       ORDER BY doc_id"""

  // --- ml16: precision–recall threshold sweep over ml06's scores ----------

  /** ml16's decision-threshold grid (written `k/10` so the literal text
    * `0.1 .. 0.9` parses to the identical double in both engines). */
  private[graft] val PrTaus: Seq[Int] = 1 to 9

  /** Shared precision/recall/F1 texts over integer counts tp/fp/fn —
    * NULL where undefined (no positive predictions / degenerate F1). */
  private val PrecT =
    "CASE WHEN tp + fp = 0 THEN NULL ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END"
  private val RecT = "CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)"
  private val F1T =
    s"CASE WHEN tp + fp = 0 OR ($PrecT) + ($RecT) = 0 THEN NULL ELSE 2.0 * ($PrecT) * ($RecT) / (($PrecT) + ($RecT)) END"

  /** ml16 — the operating-point sweep behind ml06's fixed keep ≥ 0.5
    * gate: precision, recall, and F1 of the quality classifier at every
    * decision threshold τ ∈ {0.1..0.9} (the curve a pipeline owner reads
    * before choosing how aggressively to filter — the classifier-side
    * sibling of d42's dedup sweep and ml14's λ sweep). The scored corpus
    * is produced ONCE (ml06's own plan) and all nine thresholds fold in
    * ONE 27-way conditional aggregation — never re-score per candidate;
    * comparisons run on the ROUNDED score, so they mirror exactly.
    * Completeness: recall(τ) is non-increasing and recall at τ=0.1 ≈ 1
    * are spec-pinned. */
  def ml16PrCurve(s: SparkSession, dir: String): DataFrame =
    prCurve(ml06QualityClassifier(s, dir))

  /** ml16's core over a scored (label, score) frame — exposed so the
    * spec can plant a perfectly separable score column. */
  private[graft] def prCurve(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val ag = scored.agg(
      count(lit(1)).as("n"),
      PrTaus.flatMap { k =>
        val t = k / 10.0
        Seq(
          count(when($"score" >= t && $"label" === 1, 1)).as(s"tp$k"),
          count(when($"score" >= t && $"label" === 0, 1)).as(s"fp$k"),
          count(when($"score" < t && $"label" === 1, 1)).as(s"fn$k"))
      }: _*)
    ag.select(expr("stack(" + PrTaus.length + ", " + PrTaus.map(k =>
        s"CAST(${k / 10.0} AS DOUBLE), tp$k, fp$k, fn$k").mkString(", ") +
      ") AS (tau, tp, fp, fn)"))
      .select($"tau", $"tp", $"fp", $"fn",
        r(expr(PrecT), 6).as("precision"),
        r(expr(RecT), 6).as("recall"),
        r(expr(F1T), 6).as("f1"))
      .orderBy($"tau")
  }

  val ml16Sql: String = {
    val conds = PrTaus.flatMap { k =>
      val t = k / 10.0
      Seq(
        s"count(CASE WHEN score >= CAST($t AS DOUBLE) AND label = 1 THEN 1 END) AS tp$k",
        s"count(CASE WHEN score >= CAST($t AS DOUBLE) AND label = 0 THEN 1 END) AS fp$k",
        s"count(CASE WHEN score < CAST($t AS DOUBLE) AND label = 1 THEN 1 END) AS fn$k")
    }.mkString(",\n           ")
    val branches = PrTaus.map(k =>
      s"SELECT CAST(${k / 10.0} AS DOUBLE) AS tau, tp$k AS tp, fp$k AS fp, fn$k AS fn FROM ag")
      .mkString(" UNION ALL ")
    s"""WITH $ml06Ctes,
       sc AS (SELECT CAST(y AS INTEGER) AS label, ${rSql(qlrP, 6)} AS score
         FROM f CROSS JOIN w$QlrIters),
       ag AS (SELECT $conds FROM sc)
       SELECT tau, tp, fp, fn, ${rSql(PrecT, 6)} AS precision,
         ${rSql(RecT, 6)} AS recall, ${rSql(F1T, 6)} AS f1
       FROM ($branches) z
       ORDER BY tau"""
  }

  // --- ml17: ROC curve + exact rank-sum AUC over ml06's scores ------------

  /** Shared ratio/AUC texts over exact integers (tp/fp from the decile
    * counts; u2 = 2U, n1/n0 from the count table) — identical IEEE
    * evaluation order in both engines. */
  private val RocTpr = "CAST(tp AS DOUBLE) / CAST(n1 AS DOUBLE)"
  private val RocFpr = "CAST(fp AS DOUBLE) / CAST(n0 AS DOUBLE)"
  private val RocAuc =
    "CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))"

  /** ml17 — ROC operating points + exact AUC for the ml06 quality
    * classifier: the ranking-quality complement of ml16's PR sweep (PR
    * answers "how precise is the keep gate"; ROC/AUC answers "does the
    * score order good docs above bad ones at all", threshold-free).
    * AUC is computed EXACTLY via the rank-sum identity
    * AUC = U / (n1·n0), U = #\{(pos, neg) : s_pos > s_neg\} + ½·ties —
    * the q52 Mann–Whitney count-table shape over the ROUNDED score:
    * 2U = Σ_v c1(v)·(2·#neg below v + #neg tied at v) stays a BIGINT, so
    * nothing can reorder. Gini = 2·AUC − 1 rides along, and the nine
    * decile thresholds give the curve's (fpr, tpr) points from ONE
    * conditional aggregation (ml16's shape).
    *
    * Scale shape: scoring is ml06's linear plan; the count table is
    * bounded by score cardinality (≤ 10⁶ + 1 distinct 6-dp values), so
    * the global cumulative window runs over a bounded relation; the
    * decile counts are one map-side-combinable pass. */
  def ml17RocAuc(s: SparkSession, dir: String): DataFrame =
    rocAuc(ml06QualityClassifier(s, dir).cache()) // the grid and the deciles

  /** ml17's core over a scored (label ∈ {0,1}, score) frame — exposed so
    * the spec can plant separable and tied score columns with
    * hand-computed AUC. */
  private[graft] def rocAuc(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val cnt = scored.groupBy($"score").agg(
      count(when($"label" === 1, 1)).as("c1"),
      count(when($"label" === 0, 1)).as("c0"))
    // global-window AUDIT (r15): grid = distinct 6-dp-ROUNDED scores —
    // ≤ 10^6+1 rows by the rounding grid, corpus-independent.
    val grid = cnt.withColumn("cum0",
      sum($"c0").over(Window.orderBy($"score")))
    val summ = grid.agg(
      sum($"c1").as("n1"), sum($"c0").as("n0"),
      sum($"c1" * (($"cum0" - $"c0") * 2 + $"c0")).as("u2"))
    val ag = scored.agg(
      count(lit(1)).as("n"),
      PrTaus.flatMap { k =>
        val t = k / 10.0
        Seq(
          count(when($"score" >= t && $"label" === 1, 1)).as(s"tp$k"),
          count(when($"score" >= t && $"label" === 0, 1)).as(s"fp$k"))
      }: _*)
    ag.select(expr("stack(" + PrTaus.length + ", " + PrTaus.map(k =>
        s"CAST(${k / 10.0} AS DOUBLE), tp$k, fp$k").mkString(", ") +
      ") AS (tau, tp, fp)"))
      .crossJoin(broadcast(summ))
      .select($"tau", $"tp", $"fp",
        r(expr(RocTpr), 6).as("tpr"), r(expr(RocFpr), 6).as("fpr"),
        $"n1".as("n_pos"), $"n0".as("n_neg"),
        r(expr(RocAuc), 6).as("auc"),
        r(expr(s"2.0 * ($RocAuc) - 1.0"), 6).as("gini"))
      .orderBy($"tau")
  }

  val ml17Sql: String = {
    val conds = PrTaus.flatMap { k =>
      val t = k / 10.0
      Seq(
        s"count(CASE WHEN score >= CAST($t AS DOUBLE) AND label = 1 THEN 1 END) AS tp$k",
        s"count(CASE WHEN score >= CAST($t AS DOUBLE) AND label = 0 THEN 1 END) AS fp$k")
    }.mkString(",\n           ")
    val branches = PrTaus.map(k =>
      s"SELECT CAST(${k / 10.0} AS DOUBLE) AS tau, tp$k AS tp, fp$k AS fp FROM ag")
      .mkString(" UNION ALL ")
    s"""WITH $ml06Ctes,
       sc AS (SELECT CAST(y AS INTEGER) AS label, ${rSql(qlrP, 6)} AS score
         FROM f CROSS JOIN w$QlrIters),
       cnt AS (SELECT score,
           count(CASE WHEN label = 1 THEN 1 END) AS c1,
           count(CASE WHEN label = 0 THEN 1 END) AS c0
         FROM sc GROUP BY score),
       grid AS (SELECT c1, c0,
           CAST(sum(c0) OVER (ORDER BY score) AS BIGINT) AS cum0
         FROM cnt),
       summ AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
           CAST(sum(c0) AS BIGINT) AS n0,
           CAST(sum(c1 * ((cum0 - c0) * 2 + c0)) AS BIGINT) AS u2
         FROM grid),
       ag AS (SELECT $conds FROM sc)
       SELECT tau, tp, fp, ${rSql(RocTpr, 6)} AS tpr,
         ${rSql(RocFpr, 6)} AS fpr, n1 AS n_pos, n0 AS n_neg,
         ${rSql(RocAuc, 6)} AS auc,
         ${rSql(s"2.0 * ($RocAuc) - 1.0", 6)} AS gini
       FROM ($branches) z CROSS JOIN summ
       ORDER BY tau"""
  }

  // --- ml32: DeLong variance + 95% CI for ml17's AUC ------------------------

  /** Shared DeLong expression texts over the EXACT INTEGER moments
    * (u2 = 2U; st2/su2 = Σ of squared per-positive/per-negative 2U
    * contributions): midranks are multiples of ½, so every placement
    * V10_i = t_i/(2n0), V01_j = u_j/(2n1) has an integer numerator and
    * the second moments stay BIGINT — the whole estimator reorders
    * nothing until the final double division (identical text both
    * engines). S10/S01 use ΣV² − n·AUC² (the mean of the placements IS
    * the AUC, a DeLong identity). */
  private val DlAuc =
    "CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))"
  private val DlS10 =
    s"(CAST(st2 AS DOUBLE) / (4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)) - " +
      s"CAST(n1 AS DOUBLE) * ($DlAuc) * ($DlAuc)) / (CAST(n1 AS DOUBLE) - 1.0)"
  private val DlS01 =
    s"(CAST(su2 AS DOUBLE) / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) - " +
      s"CAST(n0 AS DOUBLE) * ($DlAuc) * ($DlAuc)) / (CAST(n0 AS DOUBLE) - 1.0)"
  private val DlSe =
    s"CASE WHEN n1 > 1 AND n0 > 1 THEN sqrt(($DlS10) / CAST(n1 AS DOUBLE) + " +
      s"($DlS01) / CAST(n0 AS DOUBLE)) ELSE 0.0 END"

  /** ml32 — DeLong et al. (1988) variance and 95% CI for the AUC ml17
    * reports as a point estimate — the number that says whether an AUC
    * difference is noise (every model-comparison writeup needs it). Per
    * positive, the placement V10 = (midrank among all − midrank among
    * positives)/n0 counts the negatives it outranks (½ per tie); per
    * negative, V01 symmetrically. Var(AUC) = S10/n1 + S01/n0 with
    * S10/S01 the placements' sample variances. Everything reduces to the
    * ml17/q52 count-table shape: per distinct ROUNDED score, the
    * per-positive contribution t = 2·(neg below) + (neg tied) and the
    * per-negative contribution u = 2·(pos above) + (pos tied) are exact
    * integers; Σc1·t = 2U (ml17's u2 — the AUC numerator), and
    * Σc1·t²/Σc0·u² give the placement second moments with zero float
    * reordering. CI clamped to [0, 1]; the normal approximation is the
    * published method. One row.
    *
    * Scale shape: ml06's linear scoring plan + one bounded count table
    * (≤ 10⁶ + 1 distinct 6-dp scores) with two cumulative windows over
    * it — corpus-scale work is a single aggregation pass. */
  def ml32AucDelong(s: SparkSession, dir: String): DataFrame =
    // materialized before the AUC: with `cache()` instead this key read
    // 4.75 → 5.39 s at sf0.1 (4 cores, 5 pairs, 0 won)
    delongAuc(ml06QualityClassifier(s, dir).localCheckpoint(true))

  /** ml32's core over a scored (label ∈ {0,1}, score) frame — exposed so
    * the spec can plant separable and interleaved frames with
    * hand-computed AUC/variance. */
  private[graft] def delongAuc(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val cnt = scored.groupBy($"score").agg(
      count(when($"label" === 1, 1)).as("c1"),
      count(when($"label" === 0, 1)).as("c0"))
    val tot = cnt.agg(sum($"c1").as("n1"), sum($"c0").as("n0"))
    // global-window AUDIT (r15): ml17's rounding-grid bound applies.
    val w = Window.orderBy($"score")
    val grid = cnt
      .withColumn("cum0", sum($"c0").over(w))
      .withColumn("cum1", sum($"c1").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("t", ($"cum0" - $"c0") * 2 + $"c0")  // 2·neg below + tied
      .withColumn("u", ($"n1" - $"cum1") * 2 + $"c1")  // 2·pos above + tied
    grid.groupBy()
      .agg(min($"n1").as("n1"), min($"n0").as("n0"),
        sum($"c1" * $"t").as("u2"),
        sum($"c1" * $"t" * $"t").as("st2"),
        sum($"c0" * $"u" * $"u").as("su2"))
      .select($"n1".as("n_pos"), $"n0".as("n_neg"),
        r(expr(DlAuc), 6).as("auc"),
        r(expr(DlSe), 6).as("auc_se"),
        r(expr(s"greatest(0.0, ($DlAuc) - CAST(1.96 AS DOUBLE) * ($DlSe))"), 6).as("ci_lo"),
        r(expr(s"least(1.0, ($DlAuc) + CAST(1.96 AS DOUBLE) * ($DlSe))"), 6).as("ci_hi"))
  }

  val ml32Sql: String =
    s"""WITH $ml06Ctes,
       sc AS (SELECT CAST(y AS INTEGER) AS label, ${rSql(qlrP, 6)} AS score
         FROM f CROSS JOIN w$QlrIters),
       cnt AS (SELECT score,
           count(CASE WHEN label = 1 THEN 1 END) AS c1,
           count(CASE WHEN label = 0 THEN 1 END) AS c0
         FROM sc GROUP BY score),
       tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
           CAST(sum(c0) AS BIGINT) AS n0 FROM cnt),
       grid AS (SELECT c1, c0,
           (CAST(sum(c0) OVER (ORDER BY score) AS BIGINT) - c0) * 2 + c0 AS t,
           (n1 - CAST(sum(c1) OVER (ORDER BY score) AS BIGINT)) * 2 + c1 AS u
         FROM cnt CROSS JOIN tot),
       summ AS (SELECT (SELECT n1 FROM tot) AS n1, (SELECT n0 FROM tot) AS n0,
           CAST(sum(c1 * t) AS BIGINT) AS u2,
           CAST(sum(c1 * t * t) AS BIGINT) AS st2,
           CAST(sum(c0 * u * u) AS BIGINT) AS su2
         FROM grid)
       SELECT n1 AS n_pos, n0 AS n_neg, ${rSql(DlAuc, 6)} AS auc,
         ${rSql(DlSe, 6)} AS auc_se,
         ${rSql(s"greatest(0.0, ($DlAuc) - CAST(1.96 AS DOUBLE) * ($DlSe))", 6)} AS ci_lo,
         ${rSql(s"least(1.0, ($DlAuc) + CAST(1.96 AS DOUBLE) * ($DlSe))", 6)} AS ci_hi
       FROM summ"""

  // --- ml18: leakage-safe out-of-fold target encoding ----------------------

  /** ml18 smoothing pseudo-count (exact binary literal). */
  private val TeM = 10.0

  /** Shared encoding texts over exact integers (n_oof/sum_oof = leave-one-
    * fold-out count/target-sum, pr = the global prior as an exact-integer
    * ratio): raw out-of-fold mean with prior fallback on an empty
    * complement, and the additively-smoothed blend. */
  private val TeRaw =
    "CASE WHEN n_oof > 0 THEN CAST(sum_oof AS DOUBLE) / CAST(n_oof AS DOUBLE) ELSE pr END"
  private val TeSmooth =
    s"(CAST(sum_oof AS DOUBLE) + $TeM * pr) / (CAST(n_oof AS DOUBLE) + $TeM)"

  /** ml18 — out-of-fold target encoding (Micci-Barreca 2001, the
    * high-cardinality categorical feature used by every tabular GBM
    * pipeline): for each (lang, fold) cell, the mean of the binary
    * target over all OTHER folds' documents of that lang — the
    * leakage-safe construction (a row never contributes to its own
    * encoding; ml11's leave-one-fold-out = total − fold identity), plus
    * the m=[[TeM]] smoothed blend toward the global prior that tames
    * rare categories. Target: y = 1 for d25's curated target domains
    * (ml06's label); folds: h60(doc_id) mod 5 (s03's scan-local row
    * split, independent of lang). Counts and target sums stay BIGINT to
    * the end, so the encodings are exact-integer ratios.
    *
    * Scale shape: ONE map-side-combinable (lang, fold) count aggregation
    * touches the corpus; the leave-out subtraction, prior, and blends
    * all live on the langs×5 grid. Applying the encoding downstream is a
    * broadcast join of this table — never a shuffle of the corpus. */
  def ml18TargetEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    targetEncode(Tables.documents(s, dir).select(
      coalesce($"lang", lit("")).as("lang"),
      pmod(DedupLsh.h60($"doc_id".cast("string")), lit(5L)).as("fold"),
      when($"source".isin(DsirTargetSrcs: _*), 1L).otherwise(0L).as("y")))
  }

  /** ml18's core over an explicit (lang, fold, y ∈ {0,1}) relation —
    * exposed so the spec can plant cells with hand-computed encodings. */
  private[graft] def targetEncode(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val cf = d.groupBy($"lang", $"fold")
      .agg(count(lit(1)).as("n"), sum($"y").as("sy"))
      .cache() // feeds the per-lang totals and the global prior
    val ct = cf.groupBy($"lang").agg(sum($"n").as("nt"), sum($"sy").as("st"))
    val all = cf.agg(sum($"n").as("n_all"), sum($"sy").as("sy_all"))
    cf.join(broadcast(ct), Seq("lang"))
      .crossJoin(broadcast(all))
      .select($"lang", $"fold", $"n".as("n_in_fold"),
        ($"nt" - $"n").as("n_oof"), ($"st" - $"sy").as("sum_oof"),
        ($"sy_all".cast("double") / $"n_all".cast("double")).as("pr"))
      .select($"lang", $"fold", $"n_in_fold", $"n_oof", $"sum_oof",
        r($"pr", 6).as("prior"),
        r(expr(TeRaw), 6).as("enc_raw"),
        r(expr(TeSmooth), 6).as("enc_smooth"))
      .orderBy($"lang", $"fold")
  }

  val ml18Sql: String = {
    val inTgt = DsirTargetSrcs.map(x => s"'$x'").mkString(", ")
    s"""WITH d AS (SELECT coalesce(lang, '') AS lang,
         ((${DedupLsh.h60Sql("doc_id::VARCHAR")}) % 5 + 5) % 5 AS fold,
         CASE WHEN source IN ($inTgt) THEN 1 ELSE 0 END AS y
       FROM documents),
       cf AS MATERIALIZED (SELECT lang, fold, count(*) AS n,
           CAST(sum(y) AS BIGINT) AS sy
         FROM d GROUP BY lang, fold),
       ct AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt,
           CAST(sum(sy) AS BIGINT) AS st
         FROM cf GROUP BY lang),
       al AS (SELECT CAST(sum(n) AS BIGINT) AS n_all,
           CAST(sum(sy) AS BIGINT) AS sy_all
         FROM cf)
       SELECT lang, fold, n_in_fold, n_oof, sum_oof,
         ${rSql("pr", 6)} AS prior,
         ${rSql(TeRaw, 6)} AS enc_raw,
         ${rSql(TeSmooth, 6)} AS enc_smooth
       FROM (SELECT cf.lang, cf.fold, cf.n AS n_in_fold,
           ct.nt - cf.n AS n_oof, ct.st - cf.sy AS sum_oof,
           CAST(al.sy_all AS DOUBLE) / CAST(al.n_all AS DOUBLE) AS pr
         FROM cf JOIN ct USING (lang) CROSS JOIN al) z
       ORDER BY lang, fold"""
  }

  // --- d33: PPMI co-occurrence contexts (distributional semantics) --------

  /** d33 output budget (total order + LIMIT keeps the report bounded at
    * any vocabulary size) and per-word context fan-out. */
  private[graft] val PpmiTopPerWord = 3
  private val PpmiLimit = 500

  /** d33 — positive pointwise mutual information over forward window-2
    * co-occurrence pairs (Church & Hanks 1990; Levy & Goldberg 2014 showed
    * PPMI factorization ≈ skip-gram embeddings — this is the count-based
    * half of distributional semantics, the corpus-statistics sibling of
    * the e-family's dense vectors): for each focus word the top-3 context
    * words by PPMI = max(0, ln(c(w,c)·T / (c(w)·c(c)))). Pairs are the
    * d10 bigram layout extended with offset-2 skips; PMI's log argument
    * is an exact-integer ratio (d10-proven ln parity; all products stay
    * far below 2⁵³), ranking is on the ROUNDED score with a context
    * tie-break, and the output is budget-capped under a (w, rk) total
    * order.
    *
    * Scale shape: one explode (2 pairs/token), one count aggregation on
    * the uniform pair key (cached — it feeds both marginals and the
    * score join, invariant 5), marginal joins on vocabulary-sized
    * relations, a vocabulary-bounded ranking window, TakeOrdered for the
    * budget. Linear in the corpus; state is O(observed pairs). */
  def d33PpmiContexts(s: SparkSession, dir: String): DataFrame =
    ppmiContexts(Tables.documents(s, dir))

  /** d33's core over an explicit (text) relation — exposed so the spec can
    * check PPMI values and the skip-pair construction on a planted doc. */
  private[graft] def ppmiContexts(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tk = toks(lower($"text"))
    val pairs = docs
      .select(tk.as("tk"))
      .filter(size($"tk") >= 2)
      .select(explode(expr(
        """concat(
             transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1])),
             CASE WHEN size(tk) >= 3
                  THEN transform(sequence(0, size(tk) - 3), i -> concat(tk[i], ' ', tk[i + 2]))
                  ELSE CAST(array() AS array<string>) END)""")).as("pr"))
    val cp = pairs.groupBy($"pr").agg(count(lit(1)).as("npair")).cache()
    val cw = cp.groupBy(substring_index($"pr", " ", 1).as("w"))
      .agg(sum($"npair").as("nw"))
    val cc = cp.groupBy(substring_index($"pr", " ", -1).as("c"))
      .agg(sum($"npair").as("nc"))
    val tt = cp.agg(sum($"npair").as("t"))
    val sc = cp
      .select(substring_index($"pr", " ", 1).as("w"),
        substring_index($"pr", " ", -1).as("c"), $"npair")
      .join(cw, "w").join(cc, "c").crossJoin(broadcast(tt))
      .select($"w", $"c", $"npair",
        r(log(($"npair" * $"t").cast("double") / ($"nw" * $"nc").cast("double")), 6)
          .as("ppmi"))
      .filter($"ppmi" > 0.0)
    sc
      .withColumn("rk", row_number().over(
        Window.partitionBy($"w").orderBy($"ppmi".desc, $"c".asc)))
      .filter($"rk" <= PpmiTopPerWord)
      .orderBy($"w", $"rk")
      .limit(PpmiLimit)
      .select($"w", $"rk", $"c", $"npair", $"ppmi")
  }

  val d33Sql: String =
    s"""WITH pairs AS (
         SELECT unnest(list_concat(
             list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]),
             list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 2]))) AS pr
         FROM (SELECT ${toksSql("lower(text)")} AS tk FROM documents)
         WHERE len(tk) >= 2),
       cp AS MATERIALIZED (SELECT pr, count(*) AS npair FROM pairs GROUP BY pr),
       cw AS (SELECT split_part(pr, ' ', 1) AS w,
           CAST(sum(npair) AS BIGINT) AS nw FROM cp GROUP BY 1),
       cc AS (SELECT split_part(pr, ' ', 2) AS c,
           CAST(sum(npair) AS BIGINT) AS nc FROM cp GROUP BY 1),
       tt AS (SELECT CAST(sum(npair) AS BIGINT) AS t FROM cp),
       sc AS (SELECT w, c, npair,
           ${rSql("ln(CAST(npair * t AS DOUBLE) / CAST(nw * nc AS DOUBLE))", 6)} AS ppmi
         FROM (SELECT split_part(pr, ' ', 1) AS w, split_part(pr, ' ', 2) AS c,
                 npair FROM cp) x
         JOIN cw USING (w) JOIN cc USING (c) CROSS JOIN tt),
       top AS (SELECT w, c, npair, ppmi,
           row_number() OVER (PARTITION BY w ORDER BY ppmi DESC, c ASC) AS rk
         FROM sc WHERE ppmi > 0.0)
       SELECT w, rk, c, npair, ppmi FROM top
       WHERE rk <= $PpmiTopPerWord
       ORDER BY w, rk
       LIMIT $PpmiLimit"""

  // --- d36: Zipf rank-frequency report (corpus-statistics diagnostic) -----

  /** d36 rank depth for the log-log fit. */
  private[graft] val ZipfTop = 100

  /** d36 — per-language Zipf report: token volume, vocabulary size, the
    * top term, and the rank-frequency log-log slope fitted by least
    * squares over the top-[[ZipfTop]] terms (Zipf's law predicts ≈ −1 on
    * natural text; a corpus whose slope collapses toward 0 is
    * template/boilerplate-heavy — a standard data-quality diagnostic).
    * x = ln(rank), y = ln(count): both logs of exact integers (the
    * d08/d10 portable-ln family), per-row products are identical IEEE
    * doubles, moments go through decimal sums (q35's regression layout),
    * slope/fit from the rounded policy.
    *
    * Scale shape: one explode → (lang, term) count on uniform keys, a
    * vocabulary-sized ranking window, then an O(top) aggregation per
    * lang. Linear in the corpus; fit state is O(1) per language. */
  def d36ZipfReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def m(c: org.apache.spark.sql.Column) = dsum(c)
    val tc = Tables.documents(s, dir)
      .select($"lang", explode(toks(lower($"text"))).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("cnt"))
      .cache()
    val tot = tc.groupBy($"lang")
      .agg(sum($"cnt").as("n_tokens"), count(lit(1)).as("vocab_size"))
    val top = tc
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"cnt".desc, $"w".asc)))
      .filter($"rk" <= ZipfTop)
    val slope = ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx")
    val fit = top
      .select($"lang", $"w", $"cnt", $"rk",
        log($"rk".cast("double")).as("x"), log($"cnt".cast("double")).as("y"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        m($"x").as("sx"), m($"x" * $"x").as("sxx"),
        m($"y").as("sy"), m($"x" * $"y").as("sxy"),
        min(struct($"rk", $"w".as("tw"), $"cnt".as("tc"))).as("t1"))
      .select($"lang", $"t1.tw".as("top_term"), $"t1.tc".as("top_cnt"),
        r(slope, 6).as("zipf_slope"))
    tot.join(fit, "lang")
      .select($"lang", $"n_tokens", $"vocab_size", $"top_term", $"top_cnt",
        $"zipf_slope")
      .orderBy($"lang")
  }

  val d36Sql: String = {
    val slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    s"""WITH tc AS (SELECT lang, w, count(*) AS cnt FROM
         (SELECT lang, unnest(${toksSql("lower(text)")}) AS w FROM documents)
       GROUP BY lang, w),
       tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size FROM tc GROUP BY lang),
       rk AS (SELECT lang, w, cnt, row_number() OVER (PARTITION BY lang
           ORDER BY cnt DESC, w ASC) AS rk FROM tc),
       t1 AS (SELECT lang, w AS top_term, CAST(cnt AS BIGINT) AS top_cnt
         FROM rk WHERE rk = 1),
       top AS (SELECT lang, ln(CAST(rk AS DOUBLE)) AS x,
           ln(CAST(cnt AS DOUBLE)) AS y FROM rk WHERE rk <= $ZipfTop),
       fit AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n,
           ${dsumSql("x")} AS sx, ${dsumSql("x * x")} AS sxx,
           ${dsumSql("y")} AS sy, ${dsumSql("x * y")} AS sxy
         FROM top GROUP BY lang)
       SELECT tot.lang, n_tokens, vocab_size, top_term, top_cnt,
         ${rSql(slope, 6)} AS zipf_slope
       FROM tot JOIN fit ON fit.lang = tot.lang JOIN t1 ON t1.lang = tot.lang
       ORDER BY tot.lang"""
  }

  // --- d40: Heaps'-law vocabulary-growth report ----------------------------

  /** d40 — Heaps'-law vocabulary growth: cumulative token volume and
    * distinct-vocabulary size at ten doc_id-prefix checkpoints (prefix k
    * holds the docs with 10·doc_id < k·D, D = max doc_id + 1), plus the
    * log-log least-squares fit V ≈ K·Nᵝ over the ten points (Heaps 1978;
    * β ≈ 0.4–0.6 on natural text — a saturating β is the standard sign of
    * a capped/templated vocabulary, the d36 Zipf report's growth-side
    * sibling). Vocabulary at a checkpoint counts words whose FIRST
    * occurrence (min doc_id) falls inside the prefix, so no prefix is
    * ever re-scanned. x = ln(cum tokens), y = ln(vocab) are logs of exact
    * integers (the d08/d10 portable-ln family); moments ride q35's
    * decimal layout; slope/intercept are reported rounded (intercept as
    * ln K — no exp, ln is the only transcendental touched).
    *
    * Scale shape: one tokenize pass feeds (a) a doc-level 10-way
    * conditional aggregate (scan-local, map-side combinable) and (b) a
    * word-level min(doc_id) aggregate — one shuffle on the word key. The
    * checkpoint frame is 10 rows wide regardless of corpus size; no
    * window, no prefix re-scan, no quadratic term anywhere. */
  def d40HeapsLaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    heapsLaw(Tables.documents(s, dir).select($"doc_id", $"text"))
  }

  /** d40's core over an explicit (doc_id, text) corpus — exposed so the
    * spec can plant a corpus with hand-counted prefix vocabularies. */
  private[graft] def heapsLaw(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tokd = docs.select($"doc_id", toks(lower($"text")).as("ws"))
      .cache() // feeds the doc-level counts and the first-occurrence pass
    val dmax = tokd.agg((max($"doc_id") + lit(1L)).as("dd"))
    val docAgg = tokd
      .select($"doc_id", size($"ws").cast("long").as("nt"))
      .crossJoin(broadcast(dmax))
      .agg((1 to 10).flatMap(k => Seq(
        count(when($"doc_id" * 10 < $"dd" * k, lit(1))).as(s"d$k"),
        sum(when($"doc_id" * 10 < $"dd" * k, $"nt")).as(s"t$k"))).head,
        (1 to 10).flatMap(k => Seq(
          count(when($"doc_id" * 10 < $"dd" * k, lit(1))).as(s"d$k"),
          sum(when($"doc_id" * 10 < $"dd" * k, $"nt")).as(s"t$k"))).tail: _*)
    val vocAgg = tokd
      .select($"doc_id", explode($"ws").as("w"))
      .groupBy($"w").agg(min($"doc_id").as("fd"))
      .crossJoin(broadcast(dmax))
      .agg((1 to 10).map(k =>
        count(when($"fd" * 10 < $"dd" * k, lit(1))).as(s"v$k")).head,
        (1 to 10).map(k =>
          count(when($"fd" * 10 < $"dd" * k, lit(1))).as(s"v$k")).tail: _*)
    val pts = docAgg.crossJoin(vocAgg)
      .select(expr("stack(10, " + (1 to 10)
        .map(k => s"${k}L, d$k, t$k, v$k").mkString(", ") +
        ") AS (k, cum_docs, cum_tokens, vocab)"))
      .select($"k", $"cum_docs", $"cum_tokens", $"vocab",
        log($"cum_tokens".cast("double")).as("x"),
        log($"vocab".cast("double")).as("y"))
      .cache() // 10 rows; feeds the fit and the output join
    val slope = ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx")
    val fit = pts.agg(count(lit(1)).cast("double").as("n"),
        dsum($"x").as("sx"), dsum($"x" * $"x").as("sxx"),
        dsum($"y").as("sy"), dsum($"x" * $"y").as("sxy"))
      .select(r(slope, 6).as("heaps_beta"),
        r(($"sy" - slope * $"sx") / $"n", 6).as("heaps_lnk"))
    pts.crossJoin(broadcast(fit))
      .select($"k", $"cum_docs", $"cum_tokens", $"vocab",
        $"heaps_beta", $"heaps_lnk")
      .orderBy($"k")
  }

  val d40Sql: String = {
    val slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    val branches = (1 to 10).map(k =>
      s"SELECT $k AS k, d$k AS cum_docs, t$k AS cum_tokens, v$k AS vocab FROM da CROSS JOIN va")
      .mkString(" UNION ALL ")
    s"""WITH tokd AS MATERIALIZED (SELECT doc_id,
         ${toksSql("lower(text)")} AS ws FROM documents),
       dmax AS (SELECT max(doc_id) + 1 AS dd FROM tokd),
       da AS (SELECT ${(1 to 10).map(k =>
         s"count(CASE WHEN 10 * doc_id < $k * dd THEN 1 END) AS d$k, " +
         s"CAST(sum(CASE WHEN 10 * doc_id < $k * dd THEN nt END) AS BIGINT) AS t$k")
         .mkString(", ")}
         FROM (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nt FROM tokd)
         CROSS JOIN dmax),
       fw AS (SELECT w, min(doc_id) AS fd
         FROM (SELECT doc_id, unnest(ws) AS w FROM tokd) GROUP BY w),
       va AS (SELECT ${(1 to 10).map(k =>
         s"count(CASE WHEN 10 * fd < $k * dd THEN 1 END) AS v$k").mkString(", ")}
         FROM fw CROSS JOIN dmax),
       pts AS (SELECT k, cum_docs, cum_tokens, vocab,
           ln(CAST(cum_tokens AS DOUBLE)) AS x, ln(CAST(vocab AS DOUBLE)) AS y
         FROM ($branches) u),
       fit AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           ${dsumSql("x")} AS sx, ${dsumSql("x * x")} AS sxx,
           ${dsumSql("y")} AS sy, ${dsumSql("x * y")} AS sxy
         FROM pts)
       SELECT k, cum_docs, cum_tokens, vocab,
         ${rSql(slope, 6)} AS heaps_beta,
         ${rSql(s"(sy - ($slope) * sx) / n", 6)} AS heaps_lnk
       FROM pts CROSS JOIN fit
       ORDER BY k"""
  }

  // --- d52: vocabulary coverage / OOV-rate audit ----------------------------

  /** d52's vocabulary-size grid. */
  private val VocabKs = Seq(100, 1000, 10000)

  /** d52 — vocabulary-coverage audit: what share of the TEST split's
    * token mass (and distinct types) is covered by the TRAIN split's
    * top-k vocabulary, for k ∈ [[VocabKs]] — the "how big must my
    * embedding table be" curve fixed before any tokenizer freeze, and
    * the OOV-rate complement of d40's Heaps growth law (Heaps says how
    * fast vocabulary GROWS; d52 says how little of it you NEED — Zipf
    * mass concentrates in the head). Train/test is the shared s03 h60
    * split (ml05/d35/ml19's), vocabulary rank is (count DESC, word ASC)
    * over the vocabulary-sized count table, and every k is served by ONE
    * pass over the test-vocabulary join against the broadcast top-k
    * table (ml14's never-re-aggregate sweep rule).
    *
    * Scale shape: two token-count aggregations (map-side combinable),
    * one vocabulary-axis rank window, one test-vocab-sized broadcast
    * join fanned ×|grid|; no corpus-sized shuffle after the counts. */
  def d52VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vocabCoverage(Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
      .filter($"h" <= 7 || $"h" === 9)
      .select(when($"h" <= 7, lit("train")).otherwise(lit("test")).as("split"),
        explode(toks(lower($"text"))).as("w")),
      VocabKs)
  }

  /** d52's core over an explicit (split, w) token-instance relation —
    * exposed so the spec can plant a skewed vocabulary and a small grid. */
  private[graft] def vocabCoverage(tokens: DataFrame, ks: Seq[Int]): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    val t = tokens.cache() // feeds the train and test count tables
    val vocab = t.filter($"split" === "train")
      .groupBy($"w").agg(count(lit(1)).as("c"))
      // vocabulary-axis window (documented single-task rank over the
      // count table — vocabulary-sized state, the d27/d36 family)
      .withColumn("rank", row_number().over(Window.orderBy($"c".desc, $"w".asc)))
      .filter($"rank" <= ks.max)
      .select($"w", $"rank")
    val te = t.filter($"split" === "test")
      .groupBy($"w").agg(count(lit(1)).as("tc"))
    val grid = ks.toDF("k_vocab")
    te.join(broadcast(vocab), Seq("w"), "left")
      .crossJoin(broadcast(grid))
      .groupBy($"k_vocab")
      .agg(sum($"tc").as("test_tokens"),
        sum(when($"rank".isNotNull && $"rank" <= $"k_vocab", $"tc")
          .otherwise(0L)).as("covered_tokens"),
        count(lit(1)).as("test_types"),
        count(when($"rank".isNotNull && $"rank" <= $"k_vocab", 1)).as("covered_types"))
      .select($"k_vocab", $"test_tokens", $"covered_tokens",
        r($"covered_tokens".cast("double") / $"test_tokens".cast("double"), 6)
          .as("token_coverage"),
        $"test_types", $"covered_types",
        r($"covered_types".cast("double") / $"test_types".cast("double"), 6)
          .as("type_coverage"))
      .orderBy($"k_vocab")
  }

  val d52Sql: String = {
    val kmax = VocabKs.max
    val grid = VocabKs.mkString(", ")
    s"""WITH sp AS MATERIALIZED (SELECT
         CASE WHEN h <= 7 THEN 'train' ELSE 'test' END AS split, w
       FROM (SELECT ${DedupLsh.h60Sql("doc_id::VARCHAR")} % 10 AS h,
           unnest(${toksSql("lower(text)")}) AS w
         FROM documents) z
       WHERE h <= 7 OR h = 9),
       vc AS (SELECT w, rank FROM (
           SELECT w, row_number() OVER (ORDER BY count(*) DESC, w ASC) AS rank
           FROM sp WHERE split = 'train' GROUP BY w) v
         WHERE rank <= $kmax),
       te AS (SELECT w, count(*) AS tc FROM sp WHERE split = 'test' GROUP BY w),
       jn AS (SELECT te.w, te.tc, vc.rank FROM te LEFT JOIN vc ON vc.w = te.w),
       gr AS (SELECT unnest([$grid]) AS k_vocab),
       ag AS (SELECT k_vocab,
           CAST(sum(tc) AS BIGINT) AS test_tokens,
           CAST(sum(CASE WHEN rank IS NOT NULL AND rank <= k_vocab
             THEN tc ELSE 0 END) AS BIGINT) AS covered_tokens,
           count(*) AS test_types,
           CAST(count(CASE WHEN rank IS NOT NULL AND rank <= k_vocab
             THEN 1 END) AS BIGINT) AS covered_types
         FROM jn CROSS JOIN gr GROUP BY k_vocab)
       SELECT CAST(k_vocab AS INTEGER) AS k_vocab, test_tokens, covered_tokens,
         ${rSql("CAST(covered_tokens AS DOUBLE) / CAST(test_tokens AS DOUBLE)", 6)} AS token_coverage,
         test_types, covered_types,
         ${rSql("CAST(covered_types AS DOUBLE) / CAST(test_types AS DOUBLE)", 6)} AS type_coverage
       FROM ag ORDER BY k_vocab"""
  }

  // --- d43: corpus ordering-bias audit ---------------------------------------

  /** d43 — ordering-bias audit: is the corpus shuffled, or does source
    * composition drift along doc_id order? Training streams consume data
    * in storage order, so a source-clustered corpus silently becomes a
    * curriculum (early epochs see one domain). Per doc_id decile (the
    * d40 prefix arithmetic: decile = 10·doc_id ÷ D), the source χ²
    * against the corpus-wide composition (q50's expected-count formula)
    * and the decile's dominant source — a large χ² in ANY decile means
    * "shuffle before training". One (decile, source) cell aggregation;
    * everything after is |sources|×10-sized. */
  def d43OrderBias(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    orderBias(Tables.documents(s, dir)
      .select($"doc_id", coalesce($"source", lit("")).as("src")))
  }

  /** d43's core over an explicit (doc_id, src) relation — exposed so the
    * spec can plant a perfectly clustered and a perfectly striped order. */
  private[graft] def orderBias(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val dd = docs.agg((max($"doc_id") + lit(1L)).as("dd"))
    val cells = docs.crossJoin(broadcast(dd))
      // integer division on BOTH sides: DuckDB CAST(double AS BIGINT)
      // ROUNDS where Spark's cast truncates — never divide-then-cast
      .select(expr("(doc_id * 10) DIV dd").as("decile"), $"src")
      .groupBy($"decile", $"src").agg(count(lit(1)).as("o"))
      .cache() // feeds marginals and the χ² join
    val bySrc = cells.groupBy($"src").agg(sum($"o").as("n_src"))
    val byDec = cells.groupBy($"decile").agg(sum($"o").as("n_dec"))
    val tot = cells.agg(sum($"o").cast("double").as("nn"))
    cells
      .join(broadcast(bySrc), "src").join(broadcast(byDec), "decile")
      .crossJoin(broadcast(tot))
      .withColumn("e", $"n_dec".cast("double") * $"n_src".cast("double") / $"nn")
      .groupBy($"decile")
      // absent (decile, source) cells contribute (0−e)²/e = e, and
      // Σ_all e = n_dec — so fold them in as Σ_present((o−e)²/e − e) +
      // n_dec without ever materializing zero rows
      .agg(min($"n_dec").as("n_docs"),
        r(dsum(($"o".cast("double") - $"e") * ($"o".cast("double") - $"e") / $"e"
          - $"e") + min($"n_dec").cast("double"), 6).as("chi2"),
        min(struct((-$"o").as("no"), $"src")).as("b"))
      .select($"decile", $"n_docs", $"chi2", $"b.src".as("top_source"),
        r((-$"b.no").cast("double") / $"n_docs".cast("double"), 6).as("top_share"))
      .orderBy($"decile")
  }

  val d43Sql: String =
    s"""WITH d AS (SELECT doc_id, coalesce(source, '') AS src FROM documents),
       dd AS (SELECT max(doc_id) + 1 AS dd FROM d),
       cells AS MATERIALIZED (SELECT (doc_id * 10) // dd AS decile,
           src, count(*) AS o
         FROM d CROSS JOIN dd GROUP BY 1, 2),
       bysrc AS (SELECT src, CAST(sum(o) AS BIGINT) AS n_src FROM cells GROUP BY src),
       bydec AS (SELECT decile, CAST(sum(o) AS BIGINT) AS n_dec FROM cells GROUP BY decile),
       tot AS (SELECT CAST(sum(o) AS DOUBLE) AS nn FROM cells),
       sc AS (SELECT decile, src, o, n_src, n_dec, nn,
           CAST(n_dec AS DOUBLE) * CAST(n_src AS DOUBLE) / nn AS e
         FROM cells JOIN bysrc USING (src) JOIN bydec USING (decile) CROSS JOIN tot),
       ag AS (SELECT decile, min(n_dec) AS n_docs,
           ${rSql(s"${dsumSql("(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e - e")} + CAST(min(n_dec) AS DOUBLE)", 6)} AS chi2
         FROM sc GROUP BY decile),
       rk AS (SELECT decile, src, o, row_number() OVER (
           PARTITION BY decile ORDER BY o DESC, src ASC) AS rn
         FROM cells),
       top AS (SELECT decile, src AS top_source, o AS top_o FROM rk WHERE rn = 1)
       SELECT ag.decile, n_docs, chi2, top_source,
         ${rSql("CAST(top_o AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS top_share
       FROM ag JOIN top ON top.decile = ag.decile
       ORDER BY ag.decile"""

  // --- d41: Jensen–Shannon drift audit per source ---------------------------

  /** ln 2 as an exact double literal — shared by both engines so neither
    * side's libm is consulted for the constant (q53's literal-table trick). */
  private val Ln2 = "0.6931471805599453"

  /** d41 — Jensen–Shannon divergence of each source's unigram
    * distribution P against the corpus distribution Q: the symmetric,
    * bounded (≤ ln 2) drift score domain-shift audits use (Lin 1991),
    * next to d25's DSIR importance ratio and d26's cross-entropy. Words
    * present in the source contribute p·ln(p/m) + q·ln(q/m) with
    * m = (p+q)/2; the q-mass of words ABSENT from the source contributes
    * exactly q·ln 2, so JSD = ½·Σ_present t + ½·ln2·(1 − coverage) with
    * no outer join and no zero-probability rows materialized — coverage
    * (the corpus mass the source's vocabulary spans) is reported too.
    * All ratios are integer-derived doubles, ln rides the proven d10/d26
    * parity family, sums are decimal-exact, ln 2 is a shared literal.
    *
    * Scale shape: one tokenize → (source, word) count shuffle; the global
    * word table derives from the same counts (no second corpus scan);
    * everything after is vocabulary-sized. */
  def d41JsDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jsDrift(Tables.documents(s, dir)
      .select(coalesce($"source", lit("")).as("src"), $"text"))
  }

  /** d41's core over an explicit (src, text) corpus — exposed so the spec
    * can plant identical (JSD = 0) and disjoint (JSD → ln 2 vs the rest)
    * sources with hand-computed divergences. */
  private[graft] def jsDrift(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cs = docs
      .select($"src", explode(toks(lower($"text"))).as("w"))
      .groupBy($"src", $"w").agg(count(lit(1)).as("np"))
      .cache() // feeds the global table, the totals, and the join
    val cw = cs.groupBy($"w").agg(sum($"np").as("nw"))
    val ns = cs.groupBy($"src").agg(sum($"np").as("nsrc"))
    val nt = cw.agg(sum($"nw").as("ntot"))
    val p = $"np".cast("double") / $"nsrc".cast("double")
    val q = $"nw".cast("double") / $"ntot".cast("double")
    cs.join(cw, "w").join(broadcast(ns), "src")
      .crossJoin(broadcast(nt))
      .select($"src", $"nsrc", p.as("p"), q.as("q"))
      .withColumn("m", ($"p" + $"q") / lit(2.0))
      .groupBy($"src")
      .agg(min($"nsrc").as("n_tokens"),
        dsum($"p" * log($"p" / $"m") + $"q" * log($"q" / $"m")).as("tsum"),
        dsum($"q").as("qcov"))
      .select($"src".as("source"), $"n_tokens", r($"qcov", 6).as("coverage"),
        r(lit(0.5) * $"tsum" +
          lit(0.5) * expr(s"CAST($Ln2 AS DOUBLE)") * (lit(1.0) - $"qcov"), 6).as("jsd"))
      .orderBy($"source")
  }

  val d41Sql: String =
    s"""WITH tok AS (SELECT src, unnest(${toksSql("lower(text)")}) AS w
         FROM (SELECT coalesce(source, '') AS src, text FROM documents)),
       cs AS MATERIALIZED (SELECT src, w, count(*) AS np FROM tok GROUP BY src, w),
       cw AS (SELECT w, CAST(sum(np) AS BIGINT) AS nw FROM cs GROUP BY w),
       ns AS (SELECT src, CAST(sum(np) AS BIGINT) AS nsrc FROM cs GROUP BY src),
       nt AS (SELECT CAST(sum(nw) AS BIGINT) AS ntot FROM cw),
       pq AS (SELECT src, nsrc,
           CAST(np AS DOUBLE) / CAST(nsrc AS DOUBLE) AS p,
           CAST(nw AS DOUBLE) / CAST(ntot AS DOUBLE) AS q
         FROM cs JOIN cw USING (w) JOIN ns USING (src) CROSS JOIN nt),
       ag AS (SELECT src, min(nsrc) AS n_tokens,
           ${dsumSql("p * ln(p / ((p + q) / CAST(2.0 AS DOUBLE))) + q * ln(q / ((p + q) / CAST(2.0 AS DOUBLE)))")} AS tsum,
           ${dsumSql("q")} AS qcov
         FROM pq GROUP BY src)
       SELECT src AS source, n_tokens, ${rSql("qcov", 6)} AS coverage,
         ${rSql(s"CAST(0.5 AS DOUBLE) * tsum + CAST(0.5 AS DOUBLE) * CAST($Ln2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - qcov)", 6)} AS jsd
       FROM ag ORDER BY source"""

  // --- ml09: probability calibration report (reliability diagram) ---------

  /** ml09's core over any scored frame with (label ∈ {0,1}, score ∈ (0,1))
    * columns: decile reliability diagram — per bucket floor(10·score)
    * (capped at 9), the count, decimal-mean predicted score, observed
    * positive rate, and |obs − pred| gap — plus a trailing bucket = −1
    * summary row whose `gap` is the expected calibration error
    * ECE = Σ (n_b/N)·gap_b (Naeini et al., AAAI 2015). Buckets derive
    * from the ROUNDED score (q33 parity path: floor can't straddle a
    * last-ulp difference) and the summary row is computed from the
    * rounded per-bucket rows in both engines. The tiny per-bucket frame
    * is checkpoint-materialized before the summary scan so the scorer's
    * training plan executes once (CLAUDE.md invariant 5). */
  private[graft] def calibration(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val per = scored
      .select($"label", $"score",
        least(floor($"score" * 10), lit(9L)).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        r(davg($"score"), 6).as("mean_score"),
        sum($"label").as("pos"))
      .select($"bucket", $"n", $"mean_score",
        r($"pos".cast("double") / $"n", 6).as("obs_rate"))
      .withColumn("gap", r(abs($"obs_rate" - $"mean_score"), 6))
      .localCheckpoint(true)
    val tot = per.agg(sum($"n").as("n"),
        r(dsum($"n" * $"mean_score") / sum($"n"), 6).as("mean_score"),
        r(dsum($"n" * $"obs_rate") / sum($"n"), 6).as("obs_rate"),
        r(dsum($"n" * $"gap") / sum($"n"), 6).as("gap"))
      .select(lit(-1L).as("bucket"), $"n", $"mean_score", $"obs_rate", $"gap")
    per.unionByName(tot).orderBy($"bucket")
  }

  /** ml09 — calibration report for the ml06 quality classifier (the
    * third member of the eval family: e08 measures search recall, ml08
    * classification P/R/F1, ml09 probability calibration): is a doc
    * scored 0.7 actually in the target domain ~70 % of the time? Scale
    * shape: ml06's linear training/scoring plan followed by ONE
    * map-side-combinable 10-ary aggregation; the report is free at any
    * corpus size. */
  def ml09Calibration(s: SparkSession, dir: String): DataFrame =
    calibration(ml06QualityClassifier(s, dir))

  /** ml09's bucket CTE block (ml06 scoring -> decile buckets -> per-bucket
    * n / mean score / observed rate) — ends in per2(bucket, n, mean_score,
    * obs_rate); shared with ml28 so the calibrated buckets are the
    * measured buckets. */
  private def calBucketCtes: String =
    s"""sc AS (SELECT CAST(y AS INTEGER) AS label, ${rSql(qlrP, 6)} AS score
         FROM f CROSS JOIN w$QlrIters),
       bk AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bucket,
           label, score FROM sc),
       per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           ${rSql(davgSql("score"), 6)} AS mean_score,
           CAST(sum(label) AS BIGINT) AS pos
         FROM bk GROUP BY bucket),
       per2 AS (SELECT bucket, n, mean_score,
           ${rSql("pos / n", 6)} AS obs_rate FROM per)"""

  val ml09Sql: String =
    s"""WITH $ml06Ctes,
       $calBucketCtes,
       per3 AS (SELECT bucket, n, mean_score, obs_rate,
           ${rSql("abs(obs_rate - mean_score)", 6)} AS gap FROM per2),
       tot AS (SELECT CAST(-1 AS BIGINT) AS bucket, CAST(sum(n) AS BIGINT) AS n,
           ${rSql(s"${dsumSql("n * mean_score")} / CAST(sum(n) AS DOUBLE)", 6)} AS mean_score,
           ${rSql(s"${dsumSql("n * obs_rate")} / CAST(sum(n) AS DOUBLE)", 6)} AS obs_rate,
           ${rSql(s"${dsumSql("n * gap")} / CAST(sum(n) AS DOUBLE)", 6)} AS gap
         FROM per3)
       SELECT bucket, n, mean_score, obs_rate, gap FROM per3
       UNION ALL SELECT bucket, n, mean_score, obs_rate, gap FROM tot
       ORDER BY bucket"""

  // --- ml35: Hosmer–Lemeshow goodness-of-fit over the same buckets ----------

  /** Shared per-bucket HL term text (Spark expr ≡ DuckDB SQL): the
    * squared observed-minus-expected positives over the binomial
    * variance, all from exact integers (n, pos) and the rounded decile
    * mean score. */
  private val HlTerm =
    "(CAST(pos AS DOUBLE) - n * mean_score) * " +
      "(CAST(pos AS DOUBLE) - n * mean_score) / " +
      "(n * mean_score * (1.0 - mean_score))"

  /** ml35 — Hosmer–Lemeshow goodness-of-fit test (Hosmer & Lemeshow
    * 1980) over ml09's decile reliability buckets: ml09 reports per-
    * bucket gaps and the ECE, ml35 asks the SIGNIFICANCE question — is
    * the observed/expected divergence larger than binomial sampling
    * noise explains? Ĉ = Σ_g (O_g − n_g·p̄_g)² / (n_g·p̄_g·(1−p̄_g)),
    * df = g − 2; buckets whose rounded mean score is 0 or 1 are excluded
    * (degenerate variance — the standard guard). Per-bucket terms are
    * deterministic doubles from exact integers + the rounded p̄; the
    * cross-bucket sum re-enters DECIMAL (group order differs between
    * engines — the q111 lesson).
    *
    * Scale shape: ml06's scoring plan + one 10-ary aggregate — the test
    * itself is bucket-axis arithmetic, free at any corpus size. */
  def ml35HosmerLemeshow(s: SparkSession, dir: String): DataFrame =
    hosmerLemeshow(ml06QualityClassifier(s, dir))

  /** ml35's core over a (label, score) frame — exposed so the spec can
    * pin the perfectly-calibrated zero and a hand-computed miscalibrated
    * bucket. */
  private[graft] def hosmerLemeshow(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val per = scored
      .select($"label", $"score",
        least(floor($"score" * 10), lit(9L)).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        r(davg($"score"), 6).as("mean_score"),
        sum($"label").as("pos"))
    val terms = per.filter($"mean_score" > 0 && $"mean_score" < 1)
      .select($"n", r(expr(HlTerm), 6).as("term"))
    terms.agg(count(lit(1)).as("g_buckets"), sum($"n").as("n_docs"),
        sum($"term".cast("decimal(38,6)")).cast("double").as("hl6"))
      .select($"g_buckets", $"n_docs", r($"hl6", 6).as("hl_chi2"),
        ($"g_buckets" - 2).as("df"))
      .orderBy($"g_buckets")
  }

  lazy val ml35Sql: String =
    s"""WITH $ml06Ctes,
       $calBucketCtes,
       tm AS (SELECT n, ${rSql(HlTerm, 6)} AS term
         FROM per WHERE mean_score > 0 AND mean_score < 1)
       SELECT CAST(count(*) AS BIGINT) AS g_buckets,
         CAST(sum(n) AS BIGINT) AS n_docs,
         ${rSql("CAST(sum(CAST(term AS DECIMAL(38,6))) AS DOUBLE)", 6)}
           AS hl_chi2,
         CAST(count(*) AS BIGINT) - 2 AS df
       FROM tm ORDER BY g_buckets"""

  // --- ml28: isotonic calibration of the reliability buckets ----------------

  /** ml28 — isotonic (PAVA) calibration of ml09's reliability diagram:
    * ml09 MEASURES miscalibration, ml28 FIXES it — the monotone map
    * score-bucket → calibrated probability (Zadrozny & Elkan 2002, the
    * method every "calibrated=isotonic" flag runs). Computed not by the
    * sequential pool-adjacent-violators loop but by its closed-form
    * minimax identity ŷ_i = max_{j≤i} min_{k≥i} wmean(y, j..k) — over 10
    * buckets that is a ≤10³-row interval-mean triangle plus two nested
    * aggregations, fully relational and identical in both engines
    * (weighted means from exact integer counts and rounded rates).
    * Conservation (Σ n·ŷ = Σ n·y) and monotonicity are PAVA theorems,
    * both spec-pinned along with a hand-pooled violator sequence.
    * Oracle shares `ml06Ctes` + ml09's `calBucketCtes` — the calibrated
    * buckets are the measured buckets.
    *
    * Scale shape: ml06's scoring plan + the 10-ary bucket aggregate;
    * the isotonic algebra lives on the bucket axis. */
  def ml28IsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    isotonicOf(ml09Calibration(s, dir)
      .filter($"bucket" >= 0)
      .select($"bucket", $"n", $"mean_score", $"obs_rate"))
  }

  /** ml28's core over (bucket, n, mean_score, obs_rate) rows — exposed
    * for the hand-pooled PAVA spec. */
  private[graft] def isotonicOf(buckets: DataFrame): DataFrame = {
    val s = buckets.sparkSession
    import s.implicits._
    val ps = buckets.localCheckpoint(true) // tiny; 4 self-join consumers
    val member = ps.select($"bucket".as("mb"), $"n".as("mn"), $"obs_rate".as("my"))
    val iv = ps.select($"bucket".as("lo")).crossJoin(ps.select($"bucket".as("hi")))
      .filter($"lo" <= $"hi")
      .join(member, $"mb" >= $"lo" && $"mb" <= $"hi")
      .groupBy($"lo", $"hi")
      .agg((dsum($"mn" * $"my") / sum($"mn").cast("double")).as("wm"))
    val mni = ps.select($"bucket")
      .join(iv, $"lo" <= $"bucket" && $"hi" >= $"bucket")
      .groupBy($"bucket", $"lo").agg(min($"wm").as("mn_wm"))
    val cal = mni.groupBy($"bucket").agg(r(max($"mn_wm"), 6).as("iso_rate"))
    ps.join(cal, "bucket")
      .select($"bucket", $"n", $"mean_score", $"obs_rate", $"iso_rate")
      .orderBy($"bucket")
  }

  val ml28Sql: String =
    s"""WITH $ml06Ctes,
       $calBucketCtes,
       iv AS (SELECT a.bucket AS lo, b.bucket AS hi,
           ${dsumSql("m.n * m.obs_rate")} / CAST(sum(m.n) AS DOUBLE) AS wm
         FROM per2 a JOIN per2 b ON a.bucket <= b.bucket
           JOIN per2 m ON m.bucket >= a.bucket AND m.bucket <= b.bucket
         GROUP BY a.bucket, b.bucket),
       mni AS (SELECT p.bucket, iv.lo, min(iv.wm) AS mn_wm
         FROM per2 p JOIN iv ON iv.lo <= p.bucket AND iv.hi >= p.bucket
         GROUP BY p.bucket, iv.lo),
       cal AS (SELECT bucket, ${rSql("max(mn_wm)", 6)} AS iso_rate
         FROM mni GROUP BY bucket)
       SELECT per2.bucket, n, mean_score, obs_rate, iso_rate
       FROM per2 JOIN cal ON cal.bucket = per2.bucket
       ORDER BY per2.bucket"""

  // --- ml25: cumulative gains / lift table over ml06 ------------------------

  /** Ascending score-decile bucket (1..10) against nine broadcast
    * thresholds, ties to the LOWER bucket (t20's rule — no rank
    * tie-break exists at all). */
  private def decBucketSql(m: String, t: String): String =
    s"CAST(1 + ${(1 to 9).map(i => s"CASE WHEN $m > $t$i THEN 1 ELSE 0 END").mkString(" + ")} AS BIGINT)"

  private val GCap = "(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE))"
  private val GLift =
    "((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)))"

  /** ml25 — cumulative gains and lift by score decile of the ml06
    * quality classifier (the triage table behind "score everything,
    * process the top k%": decile 1 = highest scores; capture = share of
    * all positives reached by that depth, lift = positive rate at depth
    * ÷ base rate — ml16 sweeps THRESHOLDS, ml25 sweeps POPULATION
    * DEPTH). Deciles come from nine exact interpolated score thresholds
    * (q33's percentile↔quantile_cont pairing, rounded before
    * comparison, ties to the lower bucket — t20's rule), so bucketing is
    * a scan-local comparison against one broadcast row, never a global
    * rank sort; heavy score ties legally leave some deciles empty.
    * Cumulation rides the ≤10-row decile axis. Oracle shares `ml06Ctes`
    * — the ranked scores are the checked scores.
    *
    * Scale shape: ml06's scoring plan + one percentile aggregate + one
    * scan-local bucket pass; everything after is ≤10 rows. */
  def ml25Gains(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gainsTable(ml06QualityClassifier(s, dir)
      .select($"label".cast("long").as("y"), $"score"))
  }

  /** ml25's core over an explicit (y, score) relation — exposed so the
    * spec can plant a perfectly-ranked and an uninformative scorer. */
  private[graft] def gainsTable(sc0: DataFrame): DataFrame = {
    val s = sc0.sparkSession
    import s.implicits._
    val sc = sc0.cache() // feeds the threshold pass and the bucket pass
    val cuts = (1 to 9).map(i => r(percentile($"score", lit(i / 10.0)), 6).as(s"d$i"))
    val th = sc.agg(cuts.head, cuts.tail: _*)
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sc.crossJoin(broadcast(th))
      .select((lit(11L) - expr(decBucketSql("score", "d"))).as("decile"), $"y")
      .groupBy($"decile")
      .agg(count(lit(1)).as("n"), sum($"y").as("n_pos"))
      .withColumn("cum_n", sum($"n").over(w))
      .withColumn("cum_pos", sum($"n_pos").over(w))
      .withColumn("tot_n", sum($"n").over(wAll))
      .withColumn("tot_pos", sum($"n_pos").over(wAll))
      .filter($"tot_pos" > 0)
      .select($"decile", $"n", $"n_pos", $"cum_n", $"cum_pos",
        r(expr(GCap), 6).as("capture"), r(expr(GLift), 6).as("lift"))
      .orderBy($"decile")
  }

  val ml25Sql: String =
    s"""WITH $ml06Ctes,
       sc AS MATERIALIZED (SELECT CAST(y AS BIGINT) AS y,
           ${rSql(qlrP, 6)} AS score
         FROM f CROSS JOIN w$QlrIters),
       gth AS (SELECT ${(1 to 9).map(i =>
           s"${rSql(s"quantile_cont(score, 0.$i)", 6)} AS d$i").mkString(", ")}
         FROM sc),
       bk AS (SELECT 11 - ${decBucketSql("score", "d")} AS decile, y
         FROM sc CROSS JOIN gth),
       per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos
         FROM bk GROUP BY decile),
       cm AS (SELECT decile, n, n_pos,
           CAST(sum(n) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS BIGINT) AS cum_n,
           CAST(sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
           CAST(sum(n) OVER () AS BIGINT) AS tot_n,
           CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
         FROM per)
       SELECT decile, n, n_pos, cum_n, cum_pos,
         ${rSql(GCap, 6)} AS capture, ${rSql(GLift, 6)} AS lift
       FROM cm WHERE tot_pos > 0 ORDER BY decile"""

  // --- ml23: Brier score of the ml06 probability classifier ----------------

  /** ml23 — Brier score + skill (Brier 1950): mean squared error of
    * ml06's probabilities against the labels, the strictly proper
    * scoring rule that completes the probability-eval triad (ml17 AUC =
    * ranking, ml09 ECE = calibration, ml23 Brier = both at once);
    * brier_ref = p̄(1−p̄) is the climatology baseline and skill =
    * 1 − brier/brier_ref (positive ⇒ beats always-predict-the-base-rate).
    * One decimal-mean aggregate over ml06's scored frame; oracle shares
    * `ml06Ctes` so the scored probabilities are the checked ones. Skill
    * divides the ROUNDED report columns (identical text both engines). */
  def ml23Brier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = ml06QualityClassifier(s, dir)
      .select($"label".cast("double").as("y"), $"score")
    sc.agg(count(lit(1)).as("n"),
        r(davg(($"score" - $"y") * ($"score" - $"y")), 6).as("brier"),
        dsum($"y").as("npos"))
      .withColumn("base_rate", r($"npos" / $"n".cast("double"), 6))
      .withColumn("brier_ref",
        r(($"npos" / $"n".cast("double")) *
          (lit(1.0) - $"npos" / $"n".cast("double")), 6))
      .withColumn("skill",
        when($"brier_ref" > 0,
          r(lit(1.0) - $"brier" / $"brier_ref", 6)).otherwise(0.0))
      .select($"n", $"base_rate", $"brier", $"brier_ref", $"skill")
  }

  val ml23Sql: String =
    s"""WITH $ml06Ctes,
       sc AS (SELECT CAST(y AS DOUBLE) AS y, ${rSql(qlrP, 6)} AS score
         FROM f CROSS JOIN w$QlrIters),
       m AS (SELECT count(*) AS n,
           ${rSql(davgSql("(score - y) * (score - y)"), 6)} AS brier,
           ${dsumSql("y")} AS npos
         FROM sc),
       m2 AS (SELECT n, brier,
           ${rSql("npos / CAST(n AS DOUBLE)", 6)} AS base_rate,
           ${rSql("(npos / CAST(n AS DOUBLE)) * (1.0 - npos / CAST(n AS DOUBLE))", 6)} AS brier_ref
         FROM m)
       SELECT n, base_rate, brier, brier_ref,
         CASE WHEN brier_ref > 0 THEN ${rSql("1.0 - brier / brier_ref", 6)}
              ELSE 0.0 END AS skill
       FROM m2"""

  // --- ml07: sparse kNN text classifier (inverted-index cosine) -----------

  /** ml07 neighborhood size and test-side query budget. The budget is the
    * e01 lesson applied to sparse vectors: pairwise text similarity is
    * quadratic unless one side is capped, so the scored side is a FIXED
    * hash-rank sample — the exact-kNN cost stays O(budget × corpus)
    * regardless of corpus size. */
  private[graft] val KnnK = 5
  private[graft] val KnnBudget = 128

  /** ml07 — k-nearest-neighbor lang classifier over sparse term-count
    * vectors (the classic IR kNN text classifier, Manning, Raghavan &
    * Schütze IR book §14.3; the memory-based sibling of ml05's parametric
    * Naive Bayes). Train = s03's "train" split (h60(doc_id)%10 ≤ 7), test
    * = a [[KnnBudget]]-capped hash-rank sample of the "test" split (h = 9,
    * the e01 budget pattern). Similarity = cosine over raw term counts,
    * computed SPARSELY via an inverted-index join on the token — only
    * (test, train) pairs sharing ≥ 1 token are ever materialized, the
    * standard sparse-kNN candidate generation. Top-[[KnnK]] neighbors by
    * ROUNDED cosine (doc_id tie-break, the q33 parity path), prediction =
    * majority vote with (votes DESC, best-rank ASC, lang ASC) tie-break
    * via a map-side-combinable min(struct(…)) argmin. Test documents
    * sharing no token with the train split drop out via the inner join —
    * the deterministic OOV policy (ml05's).
    *
    * Scale shape: per-split token aggregation on uniform (doc, token)
    * keys; the broadcast-able capped test side joins the train index on
    * the token key; per-pair partial sums combine map-side; the vote
    * argmin is a ≤L-rows-per-query aggregate. Numerics: dots and squared
    * norms are sums of integer-valued doubles (exact, order-independent
    * below 2^53), so cosine is bit-identical across engines before the
    * r6 rounding. */
  def ml07KnnClassify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60($"doc_id".cast("string")) % 10)
    val test = sp.filter($"h" === 9)
      .orderBy(DedupLsh.h60($"doc_id".cast("string")), $"doc_id")
      .limit(KnnBudget)
    knnClassify(sp.filter($"h" <= 7), test, KnnK)
  }

  /** ml07's core over explicit (doc_id, lang, text) train/test relations
    * (test pre-capped, doc_ids disjoint from train) — exposed so the spec
    * can classify a vocabulary-separable planted corpus and check the
    * neighbor votes by hand. */
  private[graft] def knnClassify(train: DataFrame, test: DataFrame, k: Int): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    // sparse vector per doc: (doc, token) counts + the full-vector L2
    // norm. The count table feeds both the tf rows and the norm
    // aggregation — cached so the corpus explode runs once per split
    // (invariant 5).
    // r14 perf: ONE pinned doc_id fan-out at the top of each split, and
    // every downstream step rides it exchange-free. Before: the tf count
    // table arrived hashed by (doc_id, lang, w) and AQE coalesced its
    // sub-advisory-size exchange to ONE partition, so the cached table,
    // the norm aggregate, the norm join, and the 8.8M-row pair join +
    // partial aggregate all ran single-task (measured: the query's three
    // dominant stages), and the per-(qid, tid) dot aggregation could not
    // collapse map-side — one pair's shared-token contributions lived in
    // as many partitions as the pair shares tokens, so the partial
    // aggregate shuffled every raw pair row (127 MB for a ≤0.6 MB result
    // at sf0.1; guide §2.3/§2.4). Partitioned by doc_id: the tf groupBy
    // (doc_id ⊂ keys), the norm groupBy, and the post-join (qid, tid, …)
    // aggregate (tid ⊂ keys) all satisfy their distributions with ZERO
    // further exchanges, 32-way. The explicit partition count pins the
    // exchange against AQE byte-size coalescing (the q36 lesson: compute
    // amplification is invisible to AQE) and tracks the session's shuffle
    // parallelism — scale-adaptive, not a constant.
    val nPart = s.sessionState.conf.numShufflePartitions
    def sparseTf(d: DataFrame): (DataFrame, DataFrame) = {
      val c = d.repartition(nPart, $"doc_id")
        .select($"doc_id", $"lang", explode(toks(lower($"text"))).as("w"))
        .groupBy($"doc_id", $"lang", $"w")
        .agg(count(lit(1)).cast("double").as("tf"))
        .cache()
      (c.join(c.groupBy($"doc_id").agg(sqrt(sum($"tf" * $"tf")).as("nrm")), "doc_id"), c)
    }
    val (trTf, trC) = sparseTf(train)
    val (teTf, teC) = sparseTf(test)
    val tr = trTf
      .select($"doc_id".as("tid"), $"lang".as("nl"), $"w", $"tf".as("ttf"), $"nrm".as("tnrm"))
    val te = teTf
      .select($"doc_id".as("qid"), $"lang".as("tl"), $"w", $"tf".as("qtf"), $"nrm".as("qnrm"))
    val cos = broadcast(te).join(tr, "w")
      .groupBy($"qid", $"tl", $"qnrm", $"tid", $"nl", $"tnrm")
      .agg(sum($"qtf" * $"ttf").as("dot"))
      .select($"qid", $"tl", $"tid", $"nl",
        r($"dot" / ($"qnrm" * $"tnrm"), 6).as("cosine"))
    // probe-side window: bounded by budget × candidates (e01's shape)
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"tid".asc)
    cos.withColumn("rk", row_number().over(w)).filter($"rk" <= k)
      .groupBy($"qid", $"tl", $"nl")
      .agg(count(lit(1)).as("cnt"), min($"rk").as("br"))
      .groupBy($"qid", $"tl")
      .agg(min(struct((-$"cnt").as("nc"), $"br".as("br"), $"nl".as("l"))).as("b"))
      .select($"qid".as("doc_id"), $"tl".as("lang"), $"b.l".as("pred_lang"),
        (-$"b.nc").as("votes"),
        ($"tl" === $"b.l").cast("int").as("correct"))
      // output ≤ test-budget rows (test side is pre-capped): one partition,
      // so downstream consumers (ml10's classifierEval) pay 1-task stages
      // instead of 32-task stages over a handful of rows.
      // r14 perf: orderBy + coalesce(1) paid a range-sampling pass only to
      // flatten the sorted exchange again; repartition(1) + in-partition
      // sort is the same total order with one exchange and no sampling
      // (wide exchange, so the pair-join stage above stays 32-way).
      .repartition(1)
      .sortWithinPartitions($"doc_id")
  }

  /** ml07's DuckDB CTE block (split, sparse tf, inverted-index cosine,
    * vote ranking — ends in `pr`) — shared with ml10's evaluation. */
  private def ml07Ctes: String =
    s"""sp AS (SELECT doc_id, lang, text,
           ${DedupLsh.h60Sql("doc_id::VARCHAR")} AS hv FROM documents),
       tr0 AS (SELECT doc_id, lang, text FROM sp WHERE hv % 10 <= 7),
       te0 AS (SELECT doc_id, lang, text FROM sp WHERE hv % 10 = 9
         ORDER BY hv, doc_id LIMIT $KnnBudget),
       ttf0 AS (SELECT doc_id, lang, w, CAST(count(*) AS DOUBLE) AS tf FROM
           (SELECT doc_id, lang, unnest(${toksSql("lower(text)")}) AS w FROM tr0)
         GROUP BY doc_id, lang, w),
       tn AS (SELECT doc_id, sqrt(sum(tf * tf)) AS nrm FROM ttf0 GROUP BY doc_id),
       qtf0 AS (SELECT doc_id, lang, w, CAST(count(*) AS DOUBLE) AS tf FROM
           (SELECT doc_id, lang, unnest(${toksSql("lower(text)")}) AS w FROM te0)
         GROUP BY doc_id, lang, w),
       qn AS (SELECT doc_id, sqrt(sum(tf * tf)) AS nrm FROM qtf0 GROUP BY doc_id),
       p AS (SELECT q.doc_id AS qid, q.lang AS tl, t.doc_id AS tid, t.lang AS nl,
           sum(q.tf * t.tf) AS dot
         FROM qtf0 q JOIN ttf0 t USING (w)
         GROUP BY q.doc_id, q.lang, t.doc_id, t.lang),
       c AS (SELECT qid, tl, tid, nl,
           ${rSql("dot / (qn.nrm * tn.nrm)", 6)} AS cosine
         FROM p JOIN qn ON qn.doc_id = qid JOIN tn ON tn.doc_id = tid),
       top AS (SELECT *, row_number() OVER (PARTITION BY qid
           ORDER BY cosine DESC, tid ASC) AS rk FROM c),
       v AS (SELECT qid, tl, nl, count(*) AS cnt, min(rk) AS br
         FROM top WHERE rk <= $KnnK GROUP BY qid, tl, nl),
       pr AS (SELECT qid, tl, nl, cnt, row_number() OVER (PARTITION BY qid
           ORDER BY cnt DESC, br ASC, nl ASC) AS rn FROM v)"""

  val ml07Sql: String =
    s"""WITH $ml07Ctes
       SELECT qid AS doc_id, tl AS lang, nl AS pred_lang,
         CAST(cnt AS BIGINT) AS votes,
         CAST(tl = nl AS INTEGER) AS correct
       FROM pr WHERE rn = 1
       ORDER BY doc_id"""

  /** ml10 — per-class evaluation of the ml07 kNN classifier (ml08's
    * report over the memory-based model — same eval core, same oracle
    * CTE-sharing discipline, so the parametric and non-parametric
    * classifiers carry comparable per-round quality numbers). */
  def ml10KnnEval(s: SparkSession, dir: String): DataFrame =
    classifierEval(ml07KnnClassify(s, dir).cache()) // three eval branches

  val ml10Sql: String =
    s"""WITH $ml07Ctes,
       pred AS (SELECT qid AS doc_id, tl AS lang, nl AS pred_lang,
           CAST(tl = nl AS INTEGER) AS correct
         FROM pr WHERE rn = 1),
       $evalTailSql"""

  // --- d37: stupid-backoff trigram LM scoring -----------------------------

  /** Shared Spark/DuckDB scoring expression over the joined count columns
    * (c3c = trigram count, c2ctx = its context-bigram count, c2big =
    * backoff-bigram count, c1ctx = its context-unigram count, c1w = token
    * count, ntok = train token total). The backoff penalty ln(0.4) is
    * spelled `ln(2) - ln(5)` so every log stays in the d10-proven
    * exact-integer parity family; the ratios inside ln are int→double
    * divisions, identical IEEE in both engines. */
  private val sbLogpExpr =
    """CASE WHEN c3c IS NOT NULL THEN ln(CAST(c3c AS DOUBLE) / c2ctx)
            WHEN c2big IS NOT NULL THEN
              (ln(2) - ln(5)) + ln(CAST(c2big AS DOUBLE) / c1ctx)
            ELSE (ln(2) - ln(5)) + (ln(2) - ln(5)) +
              ln(CAST(c1w AS DOUBLE) / ntok) END"""
  private val sbLvlExpr =
    "CASE WHEN c3c IS NOT NULL THEN 3 WHEN c2big IS NOT NULL THEN 2 ELSE 1 END"

  /** d37 — stupid-backoff trigram LM (Brants et al., EMNLP 2007 "Large
    * Language Models in Machine Translation"): the LM smoothing scheme
    * built FOR distributed corpora — no discount normalization, so the
    * model is nothing but raw n-gram counts and scoring is
    * S(w₃|w₁w₂) = c₃/c₂ if the trigram was seen, else 0.4·S(w₃|w₂),
    * else 0.4²·c(w₃)/N. Trained on the s03 train split (h60 deciles ≤ 7,
    * shared with ml05/d35 so splits can't drift), scored on the test
    * decile (h = 9) where unseen trigrams actually occur; OOV test tokens
    * drop via the inner unigram join (ml05's deterministic OOV policy).
    * Per-language report: docs, scored positions, how often each backoff
    * level fired, and the decimal-mean log-score.
    *
    * Scale shape: the train token arrays are tokenized once (cached) and
    * feed the three count tables; counts join to test trigram instances
    * on uniform vocabulary-sized keys (d10/ml05's layout — no broadcast
    * of model state, so the LM can be arbitrarily large); N is a 1-row
    * broadcast. Linear in both splits at any scale. */
  def d37StupidBackoff(s: SparkSession, dir: String): DataFrame =
    stupidBackoff(Tables.documents(s, dir)
      .withColumn("h", DedupLsh.h60(col("doc_id").cast("string")) % 10))

  /** d37's core over an explicit (doc_id, lang, text, h) relation — exposed
    * so the spec can plant a tiny corpus with a controlled split and check
    * every backoff level's score by hand. */
  private[graft] def stupidBackoff(sp0: DataFrame): DataFrame = {
    val s = sp0.sparkSession
    import s.implicits._
    val sp = sp0.select($"doc_id", $"lang", toks(lower($"text")).as("tk"), $"h")
    // cached: the tokenized train split feeds the uni/bi/trigram counts
    // (three plan branches — CLAUDE.md invariant 5)
    val trd = sp.filter($"h" <= 7).select($"doc_id", $"tk").cache()
    val c1 = trd.select(explode($"tk").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c")).cache()
    val nt = c1.agg(sum($"c").as("ntok"))
    val c2 = trd.filter(size($"tk") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1]))")).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c")).cache()
    val c3 = trd.filter(size($"tk") >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(tk) - 3), i -> concat(tk[i], ' ', tk[i + 1], ' ', tk[i + 2]))")).as("tg"))
      .groupBy($"tg").agg(count(lit(1)).as("c"))
    val inst = sp.filter($"h" === 9).filter(size($"tk") >= 3)
      .select($"doc_id", $"lang", explode(expr(
        "transform(sequence(0, size(tk) - 3), i -> concat(tk[i], ' ', tk[i + 1], ' ', tk[i + 2]))")).as("tg"))
      .select($"doc_id", $"lang", $"tg",
        concat_ws(" ", split_part($"tg", lit(" "), lit(1)),
          split_part($"tg", lit(" "), lit(2))).as("ctx2"),
        concat_ws(" ", split_part($"tg", lit(" "), lit(2)),
          split_part($"tg", lit(" "), lit(3))).as("bg2"),
        split_part($"tg", lit(" "), lit(2)).as("ctx1"),
        split_part($"tg", lit(" "), lit(3)).as("w"))
    val jn = inst
      .join(c1.select($"w", $"c".as("c1w")), "w")
      .join(c3.select($"tg", $"c".as("c3c")), Seq("tg"), "left")
      .join(c2.select($"bg".as("ctx2"), $"c".as("c2ctx")), Seq("ctx2"), "left")
      .join(c2.select($"bg".as("bg2"), $"c".as("c2big")), Seq("bg2"), "left")
      .join(c1.select($"w".as("ctx1"), $"c".as("c1ctx")), Seq("ctx1"), "left")
      .crossJoin(broadcast(nt))
    jn
      .select($"doc_id", $"lang", expr(sbLvlExpr).as("lvl"),
        expr(sbLogpExpr).as("logp"))
      .groupBy($"lang")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_pos"),
        count(when($"lvl" === 3, 1)).as("n_tri"),
        count(when($"lvl" === 2, 1)).as("n_bi"),
        count(when($"lvl" === 1, 1)).as("n_uni"),
        r(dsum($"logp") / count(lit(1)), 6).as("avg_logp"))
      .orderBy($"lang")
  }

  val d37Sql: String =
    s"""WITH sp AS MATERIALIZED (SELECT doc_id, lang,
         ${toksSql("lower(text)")} AS tk,
         ${DedupLsh.h60Sql("doc_id::VARCHAR")} % 10 AS h FROM documents),
       trd AS MATERIALIZED (SELECT doc_id, tk FROM sp WHERE h <= 7),
       c1 AS MATERIALIZED (SELECT w, count(*) AS c FROM
           (SELECT unnest(tk) AS w FROM trd) GROUP BY w),
       nt AS (SELECT CAST(sum(c) AS BIGINT) AS ntok FROM c1),
       c2 AS MATERIALIZED (SELECT bg, count(*) AS c FROM
           (SELECT unnest(list_transform(range(1, len(tk)),
              i -> tk[i] || ' ' || tk[i + 1])) AS bg
            FROM trd WHERE len(tk) >= 2) GROUP BY bg),
       c3 AS (SELECT tg, count(*) AS c FROM
           (SELECT unnest(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS tg
            FROM trd WHERE len(tk) >= 3) GROUP BY tg),
       inst AS (SELECT doc_id, lang,
           unnest(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS tg
         FROM sp WHERE h = 9 AND len(tk) >= 3),
       parts AS (SELECT doc_id, lang, tg,
           split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS ctx2,
           split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS bg2,
           split_part(tg, ' ', 2) AS ctx1,
           split_part(tg, ' ', 3) AS w FROM inst),
       jn AS (SELECT doc_id, lang, c3.c AS c3c, c2c.c AS c2ctx,
           c2b.c AS c2big, c1c.c AS c1ctx, cw.c AS c1w, nt.ntok AS ntok
         FROM parts
         JOIN c1 cw ON cw.w = parts.w
         LEFT JOIN c3 ON c3.tg = parts.tg
         LEFT JOIN c2 c2c ON c2c.bg = parts.ctx2
         LEFT JOIN c2 c2b ON c2b.bg = parts.bg2
         LEFT JOIN c1 c1c ON c1c.w = parts.ctx1
         CROSS JOIN nt),
       sc AS (SELECT doc_id, lang, $sbLvlExpr AS lvl, $sbLogpExpr AS logp
         FROM jn)
       SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_pos,
         count(*) FILTER (WHERE lvl = 3) AS n_tri,
         count(*) FILTER (WHERE lvl = 2) AS n_bi,
         count(*) FILTER (WHERE lvl = 1) AS n_uni,
         ${rSql(s"${dsumSql("logp")} / count(*)", 6)} AS avg_logp
       FROM sc GROUP BY lang ORDER BY lang"""

  // --- ml31: leakage-free K-fold target encoding ----------------------------

  /** ml31's fold count and additive-smoothing weight. */
  private val TeFolds = 5
  private val TeAlpha = 10L

  /** ml31 — out-of-fold target encoding of a categorical feature (the
    * CatBoost/Kaggle standard for high-cardinality categoricals,
    * Micci-Barreca SIGKDD Expl. 2001 "A preprocessing scheme for
    * high-cardinality categorical attributes"): rows in fold f are
    * encoded with statistics computed on the OTHER folds only, so the
    * encoding never sees its own label (the leakage d35/d53 audit for —
    * here prevented by construction instead of detected after the fact).
    * Feature = `source`, label y = [lang = 'en'], fold = h60(doc) mod
    * [[TeFolds]] (the house split family, so folds agree with s03/ml11).
    *
    *   enc(s, f) = (y_out + α·prior_out) / (n_out + α)
    *
    * with y_out/n_out the same-source label sums EXCLUDING fold f and
    * prior_out the global out-of-fold mean — both exact integer
    * subtractions from one (source, fold) aggregation (the ml11
    * total−fold trick; no second pass over the corpus). `enc_naive`
    * (all-fold mean) rides along as the leakage comparison column.
    *
    * Scale shape: one groupBy(source, fold) over the scan, then
    * |sources|×K-row algebra; at 100 TB the encode-apply is a broadcast
    * join of this tiny table back onto the corpus. */
  def ml31TargetEncoding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    targetEncoding(Tables.documents(s, dir)
      .select($"doc_id", $"source",
        when($"lang" === "en", 1L).otherwise(0L).as("y")))
  }

  /** ml31's core over (doc_id, source, y) — exposed for the hand-computed
    * plant. */
  private[graft] def targetEncoding(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val ws = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    val wf = org.apache.spark.sql.expressions.Window.partitionBy($"fold")
    rows
      .withColumn("fold", graft.operators.DedupLsh.h60($"doc_id".cast("string")) % TeFolds)
      .groupBy($"source", $"fold")
      .agg(count(lit(1)).as("n_sf"), sum($"y").as("y_sf"))
      // totals via windows over the tiny (sources × K) cell table — the
      // out-of-fold sums are exact integer subtractions, never a rescan
      .withColumn("n_s", sum($"n_sf").over(ws))
      .withColumn("y_s", sum($"y_sf").over(ws))
      .withColumn("n_f", sum($"n_sf").over(wf))
      .withColumn("y_f", sum($"y_sf").over(wf))
      .withColumn("n_g", sum($"n_sf").over(w))
      .withColumn("y_g", sum($"y_sf").over(w))
      .select($"source", $"fold", $"n_sf",
        ($"n_s" - $"n_sf").as("n_out"),
        r((($"y_s" - $"y_sf").cast("double") +
          lit(TeAlpha.toDouble) * (($"y_g" - $"y_f").cast("double") /
            ($"n_g" - $"n_f").cast("double"))) /
          (($"n_s" - $"n_sf") + TeAlpha).cast("double"), 6).as("enc"),
        r($"y_s".cast("double") / $"n_s".cast("double"), 6).as("enc_naive"))
      .orderBy($"source", $"fold")
  }

  val ml31Sql: String = {
    val h = graft.operators.DedupLsh.h60Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH rows0 AS (SELECT doc_id, source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         $h % $TeFolds AS fold
       FROM documents),
       cell AS (SELECT source, fold, CAST(count(*) AS BIGINT) AS n_sf,
         CAST(sum(y) AS BIGINT) AS y_sf
       FROM rows0 GROUP BY source, fold),
       tot AS (SELECT source, fold, n_sf, y_sf,
         CAST(sum(n_sf) OVER (PARTITION BY source) AS BIGINT) AS n_s,
         CAST(sum(y_sf) OVER (PARTITION BY source) AS BIGINT) AS y_s,
         CAST(sum(n_sf) OVER (PARTITION BY fold) AS BIGINT) AS n_f,
         CAST(sum(y_sf) OVER (PARTITION BY fold) AS BIGINT) AS y_f,
         CAST(sum(n_sf) OVER () AS BIGINT) AS n_g,
         CAST(sum(y_sf) OVER () AS BIGINT) AS y_g
       FROM cell)
       SELECT source, fold, n_sf,
         n_s - n_sf AS n_out,
         ${rSql(
           s"(CAST(y_s - y_sf AS DOUBLE) + $TeAlpha.0 * (CAST(y_g - y_f AS DOUBLE) / CAST(n_g - n_f AS DOUBLE))) / CAST((n_s - n_sf) + $TeAlpha AS DOUBLE)",
           6)} AS enc,
         ${rSql("CAST(y_s AS DOUBLE) / CAST(n_s AS DOUBLE)", 6)} AS enc_naive
       FROM tot
       ORDER BY source, fold"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml31_target_encoding" -> (ml31TargetEncoding _),
    "d37_stupid_backoff" -> (d37StupidBackoff _),
    "ml07_knn_classify" -> (ml07KnnClassify _),
    "ml08_classifier_eval" -> (ml08ClassifierEval _),
    "ml21_langid_eval" -> (ml21LangidEval _),
    "ml22_mcnemar" -> (ml22Mcnemar _),
    "ml24_cohen_kappa" -> (ml24CohenKappa _),
    "ml25_gains" -> (ml25Gains _),
    "ml36_mcc" -> (ml36Mcc _),
    "ml26_confusion_cells" -> (ml26ConfusionCells _),
    "ml27_ensemble_eval" -> (ml27EnsembleEval _),
    "ml28_isotonic_calibration" -> (ml28IsotonicCalibration _),
    "ml23_brier" -> (ml23Brier _),
    "ml10_knn_eval" -> (ml10KnnEval _),
    "ml35_hosmer_lemeshow" -> (ml35HosmerLemeshow _),
    "ml09_calibration" -> (ml09Calibration _),
    "d33_ppmi_contexts" -> (d33PpmiContexts _),
    "d43_order_bias" -> (d43OrderBias _),
    "ml16_pr_curve" -> (ml16PrCurve _),
    "ml17_roc_auc" -> (ml17RocAuc _),
    "ml32_auc_delong" -> (ml32AucDelong _),
    "ml34_cochran_q" -> (ml34CochranQ _),
    "ml37_fleiss_kappa" -> (ml37FleissKappa _),
    "ml38_krippendorff_alpha" -> (ml38KrippendorffAlpha _),
    "ml39_paired_bootstrap" -> (ml39PairedBootstrap _),
    "ml18_target_encode" -> (ml18TargetEncode _),
    "d41_js_drift" -> (d41JsDrift _),
    "d40_heaps_law" -> (d40HeapsLaw _),
    "d52_vocab_coverage" -> (d52VocabCoverage _),
    "d36_zipf_report" -> (d36ZipfReport _),
    "ml06_quality_classifier" -> (ml06QualityClassifier _),
    "ml05_naive_bayes" -> (ml05NaiveBayes _),
    "d26_perplexity_buckets" -> (d26PerplexityBuckets _),
    "d25_dsir_select" -> (d25DsirSelect _),
    "d15_textrank" -> (d15Textrank _),
    "d14_bm25" -> (d14Bm25 _),
    "d08_tfidf" -> (d08Tfidf _),
    "d09_dedup_clusters" -> (d09DedupClusters _),
    "d10_bigram_lm" -> (d10BigramLm _),
    "d11_lsh_clusters" -> (d11LshClusters _),
    "d13_curation_pipeline" -> (d13CurationPipeline _))

  val oracles: Map[String, String] = Map(
    "d37_stupid_backoff" -> d37Sql,
    "ml07_knn_classify" -> ml07Sql,
    "ml08_classifier_eval" -> ml08Sql,
    "ml21_langid_eval" -> ml21Sql,
    "ml22_mcnemar" -> ml22Sql,
    "ml24_cohen_kappa" -> ml24Sql,
    "ml25_gains" -> ml25Sql,
    "ml36_mcc" -> ml36Sql,
    "ml26_confusion_cells" -> ml26Sql,
    "ml27_ensemble_eval" -> ml27Sql,
    "ml28_isotonic_calibration" -> ml28Sql,
    "ml31_target_encoding" -> ml31Sql,
    "ml23_brier" -> ml23Sql,
    "ml10_knn_eval" -> ml10Sql,
    "ml35_hosmer_lemeshow" -> ml35Sql,
    "ml09_calibration" -> ml09Sql,
    "d33_ppmi_contexts" -> d33Sql,
    "d43_order_bias" -> d43Sql,
    "ml16_pr_curve" -> ml16Sql,
    "ml17_roc_auc" -> ml17Sql,
    "ml32_auc_delong" -> ml32Sql,
    "ml34_cochran_q" -> ml34Sql,
    "ml37_fleiss_kappa" -> ml37Sql,
    "ml38_krippendorff_alpha" -> ml38Sql,
    "ml39_paired_bootstrap" -> ml39Sql,
    "ml18_target_encode" -> ml18Sql,
    "d41_js_drift" -> d41Sql,
    "d40_heaps_law" -> d40Sql,
    "d52_vocab_coverage" -> d52Sql,
    "d36_zipf_report" -> d36Sql,
    "ml06_quality_classifier" -> ml06Sql,
    "ml05_naive_bayes" -> ml05Sql,
    "d26_perplexity_buckets" -> d26Sql,
    "d25_dsir_select" -> d25Sql,
    "d15_textrank" -> d15Sql,
    "d14_bm25" -> d14Sql,
    "d08_tfidf" -> d08Sql,
    "d09_dedup_clusters" -> d09Sql,
    "d10_bigram_lm" -> d10Sql,
    "d11_lsh_clusters" -> d11Sql,
    "d13_curation_pipeline" -> d13Sql)
}
