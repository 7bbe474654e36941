package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends GraftSpec {

  test("e26 centroid outliers: planted far vector ranks first with the hand-derived z") {
    import spark.implicits._
    val c = Seq(
      ("x", 1L, Seq(0.0, 0.0)), ("x", 2L, Seq(0.0, 2.0)),
      ("x", 3L, Seq(2.0, 0.0)), ("x", 4L, Seq(10.0, 10.0)),
      // zero-variance label: both at the centroid → z NULL
      ("y", 5L, Seq(1.0, 1.0)), ("y", 6L, Seq(1.0, 1.0))
    ).toDF("label", "vec_id", "v")
    val rows = Similarity.centroidOutliers(c).collect()
    val x = rows.filter(_.getAs[String]("label") == "x")
    // centroid [3,3]; d2 = 18, 10, 10, 98 → top: vec 4 (98), vec 1 (18),
    // then the 10-tie broken by vec_id → vec 2
    assert(x.map(r => (r.getAs[Long]("rk"), r.getAs[Long]("vec_id"))).toSeq ==
      Seq((1L, 4L), (2L, 1L), (3L, 2L)), x.toSeq)
    assert(x.head.getAs[Double]("d2") == 98.0)
    // z of the top: (98 − 34)/sqrt(2532 − 34²), same IEEE ops as CoZ
    val mu = 136.0 / 4.0
    val expZ = math.floor((98.0 - mu) / math.sqrt(2532.0 / 1.0 - mu * mu) * 1e6 + 0.5) / 1e6
    assert(x.head.getAs[Double]("z") == expZ, s"${x.head} vs $expZ")
    assert(x.head.getAs[Long]("n_vectors") == 4)
    val y = rows.filter(_.getAs[String]("label") == "y")
    assert(y.length == 2 && y.forall(r => r.isNullAt(r.fieldIndex("z")) &&
      r.getAs[Double]("d2") == 0.0), y.toSeq)
  }

  test("e26 on testdata: three ranked rows per label, d2 descending within label") {
    import spark.implicits._
    val out = Similarity.e26CentroidOutliers(spark, sfTiny).collect()
    val labels = Tables.embeddings(spark, sfTiny).select($"label").distinct().count()
    assert(out.length == 3 * labels, s"${out.length} vs 3×$labels")
    out.groupBy(r => r.get(r.fieldIndex("label"))).foreach { case (_, rs) =>
      val byRk = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("d2"))
      assert(byRk.sliding(2).forall(p => p(0) >= p(1)), byRk.toSeq)
    }
    assert(out.forall(_.getAs[Double]("d2") >= 0.0))
  }

  test("e25 IVF balance: every vector in exactly one list, shares and stats cohere") {
    import spark.implicits._
    val out = Similarity.e25IvfBalance(spark, sfTiny).cache()
    try {
      val n = Tables.embeddings(spark, sfTiny).count()
      assert(out.agg(sum($"n_vectors")).collect()(0).getLong(0) == n)
      val shares = out.agg(sum($"share")).collect()(0).getDouble(0)
      assert(math.abs(shares - 1.0) < 1e-4, shares.toString)
      val r0 = out.collect()(0)
      assert(r0.getAs[Double]("cv") >= 0.0)
      assert(r0.getAs[Double]("max_share") >= 1.0 / 16.0)
      assert(out.agg(max($"share")).collect()(0).getDouble(0) ==
        r0.getAs[Double]("max_share"))
    } finally out.unpersist(blocking = false)
  }

  test("e24 nprobe sweep: recall monotone in probe depth over nested candidate sets") {
    import spark.implicits._
    val rows = Similarity.e24NprobeSweep(spark, sfTiny).orderBy($"nprobe").collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L, 8L))
    assert(rows.map(_.getAs[Long]("n_queries")).distinct.length == 1)
    val rec = rows.map(_.getAs[Double]("avg_recall5"))
    assert(rec.zip(rec.tail).forall { case (a, b) => b >= a - 1e-9 }, rec.mkString(","))
    assert(rec.forall(r => r >= 0.0 && r <= 1.0))
    // probing every list we ever probe must beat probing one
    assert(rec.last >= rec.head)
  }

  test("e23 distortion: error collapses with bit depth, 8-bit is e16's regime") {
    import spark.implicits._
    val rows = Similarity.e23SqDistortion(spark, sfTiny).orderBy($"bits").collect()
    assert(rows.map(_.getAs[Long]("bits")).toSeq == Seq(1L, 4L, 8L))
    val mse = rows.map(_.getAs[Double]("mse_per_dim"))
    assert(mse.forall(_ >= 0.0))
    // each 3-bit step multiplies the level count ~8-16× → MSE drops ≫10×
    assert(mse(1) < mse(0) / 10.0, mse.mkString(","))
    assert(mse(2) < mse(1) / 10.0, mse.mkString(","))
    // relative distortion at 8 bits is negligible next to the data variance
    assert(rows(2).getAs[Double]("rel_distortion") < 0.01, s"${rows(2)}")
  }

  test("e22 hard negatives: labels truly differ, margins reconcile, exact top bounds") {
    import spark.implicits._
    val out = Similarity.e22HardNegatives(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      // reported neg_label is the table's label for neg_id, and differs from q_label
      val lab = Tables.embeddings(spark, sfTiny)
        .select($"vec_id".as("neg_id"), $"label".as("true_label"))
      assert(out.join(lab, "neg_id")
        .filter($"neg_label" =!= $"true_label" || $"neg_label" === $"q_label")
        .count() == 0)
      // margin is exactly pos − neg under the shared rounding policy
      assert(out.filter($"pos_cosine".isNotNull).collect().forall { r =>
        r.getAs[Double]("margin") ==
          operators.Num.rD(r.getAs[Double]("pos_cosine") - r.getAs[Double]("neg_cosine"), 6)
      })
      // the unrestricted e01 top-1 dominates every restricted rank-1 negative
      val top1 = Similarity.e01CosineTopK(spark, sfTiny)
        .filter($"rank" === 1).select($"query_id", $"cosine".as("best"))
      assert(out.filter($"rank" === 1).join(top1, "query_id")
        .filter($"neg_cosine" > $"best").count() == 0)
    } finally out.unpersist(blocking = false)
  }

  test("e01 cosines are in [-1,1] and exactly 5 neighbors per query") {
    val df = Similarity.e01CosineTopK(spark, sfTiny).cache()
    assert(df.filter(col("cosine") < -1.0 || col("cosine") > 1.0).count() == 0)
    val counts = df.groupBy("query_id").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) == 5L))
    df.unpersist()
  }

  test("e01 rank-1 neighbor has the maximum cosine for its query") {
    val df = Similarity.e01CosineTopK(spark, sfTiny)
    val bad = df.groupBy("query_id").agg(max("cosine").as("mx")).as("m")
      .join(df.filter(col("rank") === 1).as("r"), "query_id")
      .filter(col("m.mx") =!= col("r.cosine"))
    assert(bad.count() == 0)
  }

  test("e03 LSH neighbors report exact cosines (verified subset of brute force)") {
    // every e03 (query, neighbor, cosine) must agree with the exact cosine
    // that e01's full scan computes for that same pair
    val approx = Similarity.e03LshAnn(spark, sfTiny)
      .select("query_id", "neighbor_id", "cosine")
    val exact = Similarity.e01CosineTopK(spark, sfTiny)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("c2"))
    // pairs present in both must match exactly
    val joined = approx.join(exact, Seq("query_id", "neighbor_id"), "inner")
    assert(joined.filter(col("cosine") =!= col("c2")).count() == 0)
  }

  test("e03 achieves nonzero recall of the true top-5 at sf0.001") {
    val approx = Similarity.e03LshAnn(spark, sfTiny)
      .select("query_id", "neighbor_id")
    val exact = Similarity.e01CosineTopK(spark, sfTiny)
      .select("query_id", "neighbor_id")
    assert(approx.intersect(exact).count() > 0)
  }

  test("ANN recall floors at sf0.01: LSH >= 0.7, IVF >= 0.6, ADC bounded by IVF") {
    import spark.implicits._
    // the e08 report at sf0.01 is the per-round quality gate made a spec
    // floor: radius-2 multiprobe (e03) and NPROBE=8 (e05) must hold these
    // medians, so a parameter or construction regression fails loudly
    val out = Similarity.e08AnnRecall(spark, sfSmall).cache()
    try {
      def med(c: String): Double =
        out.agg(expr(s"percentile($c, 0.5D)")).collect()(0).getDouble(0)
      assert(med("recall_lsh") >= 0.7, s"LSH median recall ${med("recall_lsh")}")
      assert(med("recall_ivf") >= 0.6, s"IVF median recall ${med("recall_ivf")}")
      // ADC re-scores IVF's candidate lists from lossy 4-bit codes: with
      // the Lloyd-trained codebook it holds a mean floor (untrained
      // measured 0.08, trained 0.2); the exact re-rank (e13) then
      // sandwiches PER QUERY — ivfpq <= rerank <= ivf — by construction
      // (ADC top-5 ⊆ shortlist; shortlist ⊆ IVF candidates)
      assert(out.agg(avg($"recall_ivfpq")).collect()(0).getDouble(0) >= 0.1,
        "trained-codebook ADC mean recall floor")
      assert(out.filter($"recall_ivfpq" > $"recall_rerank" + 1e-9).count() == 0,
        "exact re-rank of the shortlist can never lose an ADC top-5 hit")
      assert(out.filter($"recall_rerank" > $"recall_ivf" + 1e-9).count() == 0,
        "the shortlist is inside IVF's candidate set")
    } finally out.unpersist()
  }

  test("e04 pairs are canonical, sorted by cosine desc") {
    val rows = Similarity.e04NearDupPairs(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    val cosines = rows.map(_.getAs[Double]("cosine"))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
  }

  test("e05 IVF neighbors report exact cosines and nonzero recall") {
    val approx = Similarity.e05IvfAnn(spark, sfTiny)
      .select("query_id", "neighbor_id", "cosine")
    val exact = Similarity.e01CosineTopK(spark, sfTiny)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("c2"))
    val joined = approx.join(exact, Seq("query_id", "neighbor_id"), "inner")
    assert(joined.filter(col("cosine") =!= col("c2")).count() == 0)
    assert(joined.count() > 0)
  }

  test("e06 centroids: 64 dims per label, counts match label sizes") {
    val out = Similarity.e06LabelCentroids(spark, sfTiny).cache()
    try {
      val perLabel = out.groupBy("label").count().collect()
      assert(perLabel.nonEmpty && perLabel.forall(_.getLong(1) == 64L),
        "one centroid component per dimension")
      val sizes = Tables.embeddings(spark, sfTiny).groupBy("label").count()
        .withColumnRenamed("count", "n_label")
      val bad = out.join(sizes, "label")
        .filter(col("n_vectors") =!= col("n_label")).count()
      assert(bad == 0, "per-dim vector count equals label population")
    } finally out.unpersist()
  }

  test("e07 PQ codes: packed 8×4-bit, mse ≥ 0, deterministic, training reduces distortion") {
    import spark.implicits._
    val out = Similarity.e07PqQuantize(spark, sfTiny).cache()
    try {
      val n = Tables.embeddings(spark, sfTiny).count()
      assert(out.count() == n)
      // 8 nibbles of payload: packed value fits in 32 unsigned bits
      val bad = out.filter($"codes_packed" < 0L ||
        $"codes_packed" > 4294967295L || $"mse" < 0).count()
      assert(bad == 0)
      // the Lloyd rounds must strictly improve total distortion over the
      // round-0 hash-rank codebook — the point of training the quantizer
      val c = Tables.embeddings(spark, sfTiny)
        .select($"vec_id", $"embedding".cast("array<double>").as("v")).cache()
      def totalDist(cb: org.apache.spark.sql.DataFrame): Double =
        Similarity.pqSubCodesWith(c, cb)
          .agg(sum($"best.dist")).collect()(0).getDouble(0)
      val mse0 = totalDist(Similarity.pqCodebook0(c))
      val mseT = totalDist(Similarity.pqCodebook(c))
      assert(mseT < mse0,
        s"trained codebook distortion $mseT must beat round-0 $mse0")
      c.unpersist()
      val rerun = Similarity.e07PqQuantize(spark, sfTiny).collect()
      assert(rerun.sameElements(out.collect()), "PQ assignment is deterministic")
    } finally out.unpersist()
  }

  test("e01 query budget caps the broadcast query side deterministically") {
    import spark.implicits._
    // 1000 dense ids → the % 100 sample has 10 members; a budget of 4 must
    // keep exactly 4 of them, chosen by hash rank (re-run → same set)
    val corpusDf = (0 until 1000).map { i =>
      (i.toLong, (0 until 64).map(d => math.sin(i * 64 + d)).toArray)
    }.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(expr("aggregate(v, 0D, (a, x) -> a + x * x)")))
    val out = Similarity.cosineTopK(corpusDf, 4).cache()
    try {
      val qids = out.select("query_id").distinct().collect().map(_.getLong(0)).sorted
      assert(qids.length == 4, s"budget=4 must cap the query side, got ${qids.toSeq}")
      assert(qids.forall(_ % 100 == 0))
      val rerun = Similarity.cosineTopK(corpusDf, 4)
        .select("query_id").distinct().collect().map(_.getLong(0)).sorted
      assert(rerun.sameElements(qids), "budget selection is deterministic")
    } finally out.unpersist()
  }

  test("e05 is deterministic: two runs are value-identical") {
    val a = Similarity.e05IvfAnn(spark, sfTiny).collect()
    val b = Similarity.e05IvfAnn(spark, sfTiny).collect()
    assert(a.sameElements(b))
  }

  test("e20 matryoshka recall: aligned query sets, bounded recalls, width signal") {
    import spark.implicits._
    val rows = Similarity.e20MatryoshkaRecall(spark, sfTiny).collect()
    assert(rows.map(_.getAs[Int]("m_dims")).toSeq == Seq(8, 16, 32))
    // every width is evaluated on the same budgeted query set
    assert(rows.map(_.getAs[Long]("n_queries")).distinct.length == 1)
    assert(rows.forall(_.getAs[Long]("n_queries") > 0))
    rows.foreach { r =>
      val a = r.getAs[Double]("avg_recall5")
      assert(a >= 0.0 && a <= 1.0, s"$r")
      assert(r.getAs[Double]("p50_recall5") >= 0.0 && r.getAs[Double]("p50_recall5") <= 1.0)
    }
    // the widest prefix must retain a detectable fraction of the exact
    // neighbors (measured 0.28 on this synthetic corpus), and truncation
    // to 1/8 width cannot beat half width by more than small-sample noise
    val byM = rows.map(r => r.getAs[Int]("m_dims") -> r.getAs[Double]("avg_recall5")).toMap
    assert(byM(32) >= 0.1, s"recall@32 ${byM(32)}")
    assert(byM(8) <= byM(32) + 0.2, s"8-dim ${byM(8)} vs 32-dim ${byM(32)}")
  }

  test("e08 recall report: one row per e01 query, recalls in [0,1], IVF nonzero") {
    import spark.implicits._
    val out = Similarity.e08AnnRecall(spark, sfTiny).cache()
    try {
      val nQueries = Similarity.e01CosineTopK(spark, sfTiny)
        .select("query_id").distinct().count()
      assert(out.count() == nQueries, "one recall row per query vector")
      assert(out.filter($"recall_lsh" < 0 || $"recall_lsh" > 1 ||
        $"recall_ivf" < 0 || $"recall_ivf" > 1 ||
        $"recall_ivfpq" < 0 || $"recall_ivfpq" > 1 ||
        $"recall_rerank" < 0 || $"recall_rerank" > 1).count() == 0)
      // the per-query sandwich: ADC top-5 ⊆ shortlist (re-rank can only
      // add hits) and shortlist ⊆ IVF candidates (re-rank can't exceed)
      assert(out.filter($"recall_ivfpq" > $"recall_rerank" + 1e-9).count() == 0)
      assert(out.filter($"recall_rerank" > $"recall_ivf" + 1e-9).count() == 0)
      // the IVF path probes NPROBE=4 of 16 lists — it must recover at
      // least one true neighbor overall (e03's looser bound is spec'd above)
      assert(out.agg(sum($"recall_ivf")).collect()(0).getDouble(0) > 0.0)
    } finally out.unpersist()
  }

  test("e13 re-rank: exact cosines, ranks contiguous, deterministic") {
    import spark.implicits._
    val out = Similarity.e13AdcRerank(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      // cosines are the exact brute-force values (same rounding policy)
      val exact = Similarity.e01CosineTopK(spark, sfTiny)
        .select($"query_id", $"neighbor_id", $"cosine".as("c2"))
      val joined = out.join(exact, Seq("query_id", "neighbor_id"), "inner")
      assert(joined.filter($"cosine" =!= $"c2").count() == 0)
      // per query: ranks are 1..k contiguous
      val bad = out.groupBy($"query_id")
        .agg(count(lit(1)).as("n"), max($"rank").as("mx"), min($"rank").as("mn"))
        .filter($"mx" =!= $"n" || $"mn" =!= 1).count()
      assert(bad == 0, "ranks must be contiguous from 1")
      val rerun = Similarity.e13AdcRerank(spark, sfTiny).collect()
      assert(rerun.sameElements(out.collect()))
    } finally out.unpersist()
  }

  test("e09 bucket-blocked near-dup: finds planted duplicates, cosines exact, canonical") {
    import spark.implicits._
    // 40 spread-out base vectors + exact clones of three of them: clones
    // agree with their originals on every hyperplane sign, so bucket
    // blocking can never separate them
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 64).map(d => math.sin(i * 64 + d).abs + 0.1).toArray)
    }
    val clones = Seq(5, 17, 31).map(i => (100L + i, base(i)._2.clone()))
    val corpusDf = (base ++ clones).toDF("vec_id", "v")
      .withColumn("nrm", sqrt(expr("aggregate(v, 0D, (a, x) -> a + x * x)")))
    val pairs = Similarity.nearDupAnnPairs(corpusDf).cache()
    try {
      val got = pairs.select("id_a", "id_b", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      Seq(5L, 17L, 31L).foreach { i =>
        assert(got.get((i, 100L + i)).contains(1.0),
          s"planted clone pair ($i, ${100 + i}) missing or cosine != 1.0: $got")
      }
      assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
      assert(pairs.filter(col("cosine") > 1.000001).count() == 0)
    } finally pairs.unpersist()
  }

  test("e09 on real embeddings: top-50, deterministic, pairs canonical") {
    val out = Similarity.e09NearDupAnn(spark, sfTiny).cache()
    try {
      assert(out.count() > 0 && out.count() <= 50)
      assert(out.filter(col("id_a") >= col("id_b")).count() == 0)
      val rerun = Similarity.e09NearDupAnn(spark, sfTiny).collect()
      assert(rerun.sameElements(out.collect()))
    } finally out.unpersist()
  }

  test("e27 Davies-Bouldin: hand-computed two-cluster geometry and e21 dispersion parity") {
    import spark.implicits._
    // two tight pairs on the x-axis at 1.0±0.1 and 10.0±0.1: whatever the
    // hash-rank init picks, two Lloyd rounds converge to means (1.0, 10.0)
    // exactly → S_i = 0.1, M = 9, R = r6(0.2/9) = 0.022222 for both rows
    def v(x: Double) = Array.fill(64)(0.0).updated(0, x).toSeq
    val planted = Seq((1L, v(0.9)), (2L, v(1.1)), (3L, v(9.9)), (4L, v(10.1)))
      .toDF("vec_id", "v")
    val rows = operators.Similarity.daviesBouldin(planted, 2, 3).collect()
    assert(rows.length == 2, rows.mkString("; "))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == 2L, s"$r")
      assert(r.getAs[Double]("dispersion") == 0.1, s"$r")
      assert(r.getAs[Double]("db_ratio") == 0.022222, s"$r")
      assert(r.getAs[Int]("vs_cluster") != r.getAs[Int]("cluster"))
    }
    // on testdata: dispersion must equal e21's mean_a (both are the mean
    // member→own-centroid distance over the same trained model)
    val db = operators.Similarity.e27DaviesBouldin(spark, sfTiny).collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Double]("dispersion")).toMap
    val sil = operators.Similarity.e21Silhouette(spark, sfTiny).collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Double]("mean_a")).toMap
    assert(db == sil, s"$db vs $sil")
  }

  test("e33 Calinski-Harabasz: hand-computed two-cluster variance ratio") {
    import spark.implicits._
    // the e27 geometry: tight pairs at 1.0±0.1 and 10.0±0.1 on the x-axis.
    // Centroids (1, 10); global mean 5.5. W_i = 0.01+0.01 = 0.02 each;
    // B_i = 2·4.5² = 40.5 each; CH = (81/(2−1)) / (0.04/(4−2)) = 4050.
    def v(x: Double) = Array.fill(64)(0.0).updated(0, x).toSeq
    val planted = Seq((1L, v(0.9)), (2L, v(1.1)), (3L, v(9.9)), (4L, v(10.1)))
      .toDF("vec_id", "v")
    val rows = operators.Similarity.calinskiHarabasz(planted, 2, 3).collect()
    assert(rows.length == 2, rows.mkString("; "))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == 2L, s"$r")
      assert(r.getAs[Double]("wss") == 0.02, s"$r")
      assert(r.getAs[Double]("bss") == 40.5, s"$r")
      assert(r.getAs[Double]("ch") == 4050.0, s"$r")
    }
    // on testdata: per-cluster counts must match e27's (same trained model)
    val ch = operators.Similarity.e33CalinskiHarabasz(spark, sfTiny).collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("n_vecs")).toMap
    val db = operators.Similarity.e27DaviesBouldin(spark, sfTiny).collect()
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("n_vecs")).toMap
    assert(ch == db, s"$ch vs $db")
  }

  test("e29 NDCG: perfectly clustered labels score 1, partial cluster gets exact truncated IDCG") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExpressions
    // label A (6 members incl. queries 100..300) along e1, label B
    // (4 members incl. query 400) along e2: A queries retrieve 5 A's
    // (ndcg 1, p 1); B queries retrieve 3 B's then 2 A's at cosine 0
    // (dcg = IDCG(3), rr = 3 → ndcg 1, p = 0.6)
    VectorExpressions.register(spark)
    def v(i: Int, x: Double) = Array.fill(64)(0.0).updated(i, x).toSeq
    val rows =
      Seq(100L, 200L, 300L, 1L, 2L, 3L).map(id => (id, "A", v(0, 1.0 + id * 0.001))) ++
        Seq(400L, 5L, 6L, 7L).map(id => (id, "B", v(1, 1.0 + id * 0.001)))
    val c = rows.toDF("vec_id", "label", "v")
      .withColumn("nrm", sqrt(VectorExpressions.dot($"v", $"v")))
    val out = operators.Similarity.ndcgEval(c).collect()
      .map(r => r.getAs[String]("label") -> r).toMap
    assert(out("A").getAs[Long]("n_queries") == 3L, out.values.mkString(";"))
    assert(out("A").getAs[Double]("p_at_5") == 1.0 &&
      out("A").getAs[Double]("ndcg_at_5") == 1.0, s"${out("A")}")
    assert(out("B").getAs[Long]("n_queries") == 1L)
    assert(out("B").getAs[Double]("p_at_5") == 0.6 &&
      out("B").getAs[Double]("ndcg_at_5") == 1.0, s"${out("B")}")
  }

  test("e28 embedding drift: hash split shows near-identical centroids, _all row present") {
    import spark.implicits._
    val out = operators.Similarity.e28EmbeddingDrift(spark, sfTiny).collect()
    val all = out.find(_.getAs[String]("label") == "_all")
    assert(all.isDefined, out.mkString(";"))
    // counts: _all row sums the 80%/10% split shares of the corpus
    val total = Tables.embeddings(spark, sfTiny).count()
    val a = all.get
    assert(a.getAs[Long]("n_train") + a.getAs[Long]("n_test") <= total)
    assert(a.getAs[Long]("n_train") > a.getAs[Long]("n_test") &&
      a.getAs[Long]("n_test") > 0, s"$a")
    // an unbiased hash split of zero-centered embeddings: pooled
    // centroids sit close together in absolute terms (dist ≪ the ~8
    // typical vector norm); cosine is noise near the origin, so only
    // its range is pinned
    assert(a.getAs[Double]("centroid_dist") < 1.0, s"$a")
    out.foreach { r =>
      assert(r.getAs[Double]("centroid_dist") >= 0.0)
      assert(math.abs(r.getAs[Double]("centroid_cos")) <= 1.0 + 1e-9, s"$r")
    }
  }

  test("e21 silhouette: covers the corpus, bd ≥ ad, scores in [0,1], sizes ≡ e10") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Similarity.e21Silhouette(spark, sfTiny).cache()
    try {
      val n = spark.read.parquet(s"$sfTiny/embeddings.parquet").count()
      assert(out.count() > 0 && out.count() <= 8)
      assert(out.agg(sum($"n_vecs")).collect()(0).getLong(0) == n)
      // argmin assignment ⇒ nearest-other ≥ own distance, silhouette in [0,1]
      assert(out.filter($"mean_b" < $"mean_a").count() == 0)
      assert(out.filter($"mean_sil" < 0 || $"mean_sil" > 1).count() == 0)
      // the evaluated clustering is exactly e10's: per-cluster sizes match
      val e10Sizes = Similarity.e10Kmeans(spark, sfTiny)
        .groupBy($"cluster").agg(count(lit(1)).as("n10"))
      assert(out.join(e10Sizes, Seq("cluster"), "full")
        .filter($"n_vecs".isNull || $"n10".isNull || $"n_vecs" =!= $"n10")
        .count() == 0)
    } finally out.unpersist(blocking = false)
  }

  test("e10 k-means: total partition of the corpus, K clusters, inertia descends") {
    import spark.implicits._
    val n = graft.Tables.embeddings(spark, sfTiny).count()
    val out = Similarity.e10Kmeans(spark, sfTiny).cache()
    try {
      // every vector assigned to exactly one cluster
      assert(out.count() == n)
      assert(out.select("vec_id").distinct().count() == n)
      assert(out.select("cluster").distinct().count() == Similarity.KmK.toLong)
      assert(out.filter(col("sq_dist") < 0.0).count() == 0)
      // Lloyd's guarantee: inertia after the update rounds is no worse
      // than under the raw hash-rank init
      val c = graft.Tables.embeddings(spark, sfTiny)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      def inertia(iters: Int): Double =
        Similarity.kmeansAssign(c, Similarity.KmK, iters)
          .agg(sum("dist")).collect()(0).getDouble(0)
      assert(inertia(Similarity.KmIters) < inertia(0))
    } finally out.unpersist()
  }

  test("e11 ADC search: same query set as e05, ranks contiguous, deterministic") {
    import spark.implicits._
    val out = Similarity.e11IvfPqAnn(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      // squared distances are non-negative and ranked ascending 1..≤5
      assert(out.filter($"adc_dist" < 0).count() == 0)
      assert(out.filter($"rank" < 1 || $"rank" > 5).count() == 0)
      val rankViol = out.groupBy($"query_id")
        .agg(count(lit(1)).as("n"), max($"rank").as("mx"), min($"rank").as("mn"))
        .filter($"mn" =!= 1 || $"mx" =!= $"n").count()
      assert(rankViol == 0, "ranks are 1..n with no gaps")
      // the coarse quantizer is shared with e05 — identical query budget
      val qE11 = out.select("query_id").distinct().collect().map(_.getLong(0)).sorted
      val qE05 = Similarity.e05IvfAnn(spark, sfTiny)
        .select("query_id").distinct().collect().map(_.getLong(0)).sorted
      assert(qE11.sameElements(qE05), "same probe construction as e05")
      // two runs are value-identical (hash-rank sampling, struct-min
      // argmin, rounded dist + id tie-breaks leave no nondeterminism)
      val rerun = Similarity.e11IvfPqAnn(spark, sfTiny).collect()
      assert(out.collect().sameElements(rerun))
    } finally out.unpersist()
  }

  test("e12 random projection: norm ratios concentrate near 1 (the JL guarantee)") {
    import spark.implicits._
    val out = Similarity.e12RandomProjection(spark, sfSmall).cache()
    try {
      val n = out.count()
      assert(n > 0)
      assert(out.filter($"nrm" <= 0 || $"proj_nrm" < 0).count() == 0)
      // E[ratio²] = 1 for a ±1/√D projection; with D=16 the per-row std of
      // ratio² is √(2/16) ≈ 0.35, so the corpus mean sits tight around 1
      val meanSq = out.agg(avg($"norm_ratio" * $"norm_ratio")).collect()(0).getDouble(0)
      assert(math.abs(meanSq - 1.0) < 0.1, s"E[ratio²] = $meanSq")
      // and individual rows rarely stray far: ≥80 % within ±0.5
      val close = out.filter(abs($"norm_ratio" - 1.0) < 0.5).count()
      assert(close.toDouble / n >= 0.8, s"only $close/$n within ±0.5")
    } finally out.unpersist()
  }

  test("e14 semantic dedup: cluster minima survive, witnesses valid, prune non-trivial") {
    import spark.implicits._
    val out = Similarity.e14SemanticDedup(spark, sfTiny).cache()
    try {
      val n = graft.Tables.embeddings(spark, sfTiny).count()
      assert(out.count() == n, "one verdict per vector")
      // the smallest id in every cluster has no smaller-id witness → kept
      val minViol = out.withColumn("mn",
          min($"vec_id").over(org.apache.spark.sql.expressions.Window.partitionBy($"cluster")))
        .filter($"vec_id" === $"mn" && $"kept" === 0).count()
      assert(minViol == 0, "per-cluster min id must be kept")
      // removed rows carry a valid witness: smaller id, cosine ≥ τ;
      // kept rows carry the sentinels
      assert(out.filter($"kept" === 0 &&
        ($"dup_of" >= $"vec_id" || $"dup_cos" < Similarity.SemDedupTau)).count() == 0)
      assert(out.filter($"kept" === 1 &&
        ($"dup_of" =!= -1L || $"dup_cos" =!= -2.0)).count() == 0)
      // the witness lives in the same cluster (the prune is cluster-scoped)
      val cl = out.select($"vec_id".as("w_id"), $"cluster".as("w_cl"))
      assert(out.filter($"kept" === 0).join(cl, $"dup_of" === $"w_id")
        .filter($"cluster" =!= $"w_cl").count() == 0)
      // τ sits inside the cosine distribution: some removed, most kept
      val removed = out.filter($"kept" === 0).count()
      assert(removed > 0, "threshold should prune something on this corpus")
      assert(removed < n / 2, s"prune should not collapse the corpus ($removed/$n)")
      // deterministic end to end
      assert(out.collect().sameElements(Similarity.e14SemanticDedup(spark, sfTiny).collect()))
    } finally out.unpersist()
  }

  test("e15 MMR: contiguous positions, rank-1 = max relevance, measurably diverser than e13") {
    import spark.implicits._
    val out = Similarity.e15MmrRerank(spark, sfSmall).cache()
    val e13 = Similarity.e13AdcRerank(spark, sfSmall).cache()
    try {
      // positions are 1..k with no gaps, neighbors distinct per query
      val posViol = out.groupBy($"query_id")
        .agg(count(lit(1)).as("n"), min($"pos").as("mn"), max($"pos").as("mx"),
          countDistinct($"neighbor_id").as("d"))
        .filter($"mn" =!= 1 || $"mx" =!= $"n" || $"d" =!= $"n").count()
      assert(posViol == 0)
      // the first pick is pure relevance — e13's rank-1 row
      val r1 = e13.filter($"rank" === 1)
        .select($"query_id", $"neighbor_id".as("top_nid"))
      assert(out.filter($"pos" === 1).join(r1, "query_id")
        .filter($"neighbor_id" =!= $"top_nid").count() == 0)
      // diversification is real: MMR's picks diverge from pure relevance
      // for at least one query, and the mean intra-set cosine drops
      // (measured 0.085 vs 0.112 at sf0.01)
      def intra(sel: org.apache.spark.sql.DataFrame): Double = {
        val c = Tables.embeddings(spark, sfSmall)
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
          .withColumn("nrm", sqrt(org.apache.spark.sql.graft.VectorExpressions.dot($"v", $"v")))
        val a = sel.select($"query_id", $"neighbor_id".as("ia"))
          .join(c.select($"vec_id".as("ia"), $"v".as("qv"), $"nrm".as("na")), "ia")
        val b = sel.select($"query_id".as("qb"), $"neighbor_id".as("ib"))
          .join(c.select($"vec_id".as("ib"), $"v".as("cv"), $"nrm".as("nb")), "ib")
        a.join(b, $"query_id" === $"qb" && $"ia" < $"ib")
          .select((org.apache.spark.sql.graft.VectorExpressions.dot($"qv", $"cv") /
            ($"na" * $"nb")).as("cc"))
          .agg(avg($"cc")).collect()(0).getDouble(0)
      }
      val sep = e13.select($"query_id", $"neighbor_id")
        .exceptAll(out.select($"query_id", $"neighbor_id")).count()
      assert(sep > 0, "MMR must change at least one pick vs pure relevance")
      val (mi, ei) = (intra(out), intra(e13))
      assert(mi < ei, s"MMR intra-set cosine $mi must be below e13's $ei")
      // deterministic
      assert(out.collect().sameElements(Similarity.e15MmrRerank(spark, sfSmall).collect()))
    } finally { out.unpersist(); e13.unpersist() }
  }

  test("e16 SQ8: 5 ranked rows per query, high recall vs exact, deterministic") {
    import spark.implicits._
    val out = Similarity.e16Sq8Ann(spark, sfTiny).cache()
    try {
      // exactly 5 contiguous ranks per budgeted query
      val bad = out.groupBy($"query_id")
        .agg(count(lit(1)).as("n"), max($"rank").as("mx"), min($"rank").as("mn"))
        .filter($"n" =!= 5 || $"mx" =!= 5 || $"mn" =!= 1).count()
      assert(bad == 0, "every query must get ranks 1..5")
      // 8-bit scalar quantization is fine-grained: its top-5 should agree
      // with the exact brute-force top-5 almost everywhere (mean overlap
      // well above the coarse-quantizer variants' floors)
      val exact = Similarity.e01CosineTopK(spark, sfTiny)
        .select($"query_id", $"neighbor_id")
      val overlap = out.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy($"query_id").agg((count(lit(1)) / 5.0).as("rec"))
      val meanRec = overlap.agg(avg($"rec")).as[Double].head()
      assert(meanRec >= 0.8, s"SQ8 mean recall@5 $meanRec below 0.8")
      val rerun = Similarity.e16Sq8Ann(spark, sfTiny).collect()
      assert(rerun.sameElements(out.collect()))
    } finally out.unpersist()
  }

  test("e17 binary+Hamming: exact rerank cosines, contiguous ranks, useful recall") {
    import spark.implicits._
    val out = Similarity.e17BinaryHamming(spark, sfTiny).cache()
    try {
      // rerank emits EXACT cosines (same rounding policy as e01)
      val exact = Similarity.e01CosineTopK(spark, sfTiny)
        .select($"query_id", $"neighbor_id", $"cosine".as("c2"))
      val joined = out.join(exact, Seq("query_id", "neighbor_id"), "inner")
      assert(joined.filter($"cosine" =!= $"c2").count() == 0)
      // ranks 1..5 contiguous per query
      val bad = out.groupBy($"query_id")
        .agg(count(lit(1)).as("n"), max($"rank").as("mx"), min($"rank").as("mn"))
        .filter($"n" =!= 5 || $"mx" =!= 5 || $"mn" =!= 1).count()
      assert(bad == 0, "every query must get ranks 1..5")
      // one sign bit per dimension is lossy but must stay a useful
      // pre-filter at the 32-deep refine depth
      val overlap = out.join(exact.select($"query_id", $"neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .groupBy($"query_id").agg((count(lit(1)) / 5.0).as("rec"))
      val meanRec = overlap.agg(avg($"rec")).as[Double].head()
      assert(meanRec >= 0.3, s"binary-quantized mean recall@5 $meanRec below 0.3")
      val rerun = Similarity.e17BinaryHamming(spark, sfTiny).collect()
      assert(rerun.sameElements(out.collect()))
    } finally out.unpersist()
  }

  test("e18 PCA: centered scores, one row per vector, beats every single axis") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Similarity.e18PcaProject(spark, sfTiny).cache()
    try {
      val n = Tables.embeddings(spark, sfTiny).count()
      assert(out.count() == n)
      // projections of centered data sum to ~0 (only r6 rounding residue)
      val mean = out.agg(avg($"pc1")).collect()(0).getDouble(0)
      assert(math.abs(mean) < 1e-4, s"pc1 mean $mean")
      // the dominant eigen-direction explains at least as much variance
      // as the best single coordinate axis (the point of PCA)
      val pc1Var = out.agg(var_pop($"pc1")).collect()(0).getDouble(0)
      val axisVar = Tables.embeddings(spark, sfTiny)
        .select(posexplode($"embedding".cast("array<double>")))
        .groupBy($"pos").agg(var_pop($"col").as("v"))
        .agg(max($"v")).collect()(0).getDouble(0)
      assert(pc1Var > axisVar, s"pc1 var $pc1Var vs best axis $axisVar")
    } finally out.unpersist(blocking = false)
  }

  test("e18 loadings: unit norm, and a planted dominant axis is recovered") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // centered relation with variance concentrated on dimension 1
    val cx = (1 to 20).flatMap { k =>
      (1 to 64).map { i =>
        val v = if (i == 1) (k - 10.5) * 10.0 else math.sin(k * 64 + i) * 0.1
        (k.toLong, i, v)
      }
    }.toDF("vec_id", "i", "cx")
    val v = Similarity.pcaLoadings(cx, Similarity.PcaIters).collect()
      .map(r => r.getAs[Int]("j") -> r.getAs[Double]("vj")).toMap
    val norm = math.sqrt(v.values.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9, s"loading norm $norm")
    assert(math.abs(v(1)) > 0.999, s"dominant axis loading ${v(1)}")
  }

  test("e19 embedding kNN: budgeted test decile, bounded votes, composes with ml08's eval") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Similarity.e19EmbeddingKnn(spark, sfSmall).cache()
    try {
      assert(out.count() > 0 && out.count() <= Similarity.EknnBudget)
      assert(out.select($"vec_id").distinct().count() == out.count())
      assert(out.filter($"votes" < 1 || $"votes" > 5).count() == 0)
      assert(out.filter(($"label" === $"pred_label").cast("int") =!= $"correct").count() == 0)
      // predictions come from labels that exist in the corpus
      val trainLabels = Tables.embeddings(spark, sfSmall)
        .select($"label").distinct().collect().map(_.getInt(0)).toSet
      assert(out.select($"pred_label").distinct().collect()
        .map(_.getInt(0)).toSet.subsetOf(trainLabels))
      // the prediction frame composes with the shared eval core (ml08):
      // micro row accounts for every prediction
      val ev = graft.operators.Corpus.classifierEval(
        out.select($"label".cast("string").as("lang"),
          $"pred_label".cast("string").as("pred_lang"), $"correct"))
        .collect()
      val micro = ev.find(_.getString(0) == "_micro").get
      assert(micro.getAs[Long]("support") == out.count())
      assert(micro.getAs[Long]("tp") ==
        out.agg(sum($"correct")).collect()(0).getLong(0))
    } finally out.unpersist(blocking = false)
  }

  test("e30 Rocchio: planted separable clusters classify perfectly") {
    import spark.implicits._
    // label "a" clusters around e1, "b" around e2 — every test vector is
    // closer (in cosine) to its own centroid
    def v(main: Int, eps: Double): Seq[Double] =
      Seq.tabulate(4)(i => if (i == main) 1.0 else eps)
    val train = Seq(("a", v(0, 0.1)), ("a", v(0, 0.2)),
      ("b", v(1, 0.1)), ("b", v(1, 0.2))).toDF("label", "v")
    val test = Seq((1L, "a", v(0, 0.15)), (2L, "b", v(1, 0.15)))
      .map { case (id, l, q) =>
        (id, l, q, math.sqrt(q.map(x => x * x).sum)) }
      .toDF("query_id", "tl", "qv", "qnrm")
    val rows = Similarity.rocchio(train, test).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[Int]("correct") == 1), rows.mkString(";"))
    assert(rows.forall(r => r.getAs[Double]("cosine") > 0.9))
  }

  test("e30 on testdata: budgeted, distinct, composes with ml08's eval") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = Similarity.e30Rocchio(spark, sfSmall).cache()
    try {
      assert(out.count() > 0 && out.count() <= Similarity.EknnBudget)
      assert(out.select($"vec_id").distinct().count() == out.count())
      assert(out.filter(($"label" === $"pred_label").cast("int") =!= $"correct").count() == 0)
      assert(out.filter(abs($"cosine") > 1.000001).count() == 0)
      val ev = graft.operators.Corpus.classifierEval(
        out.select($"label".cast("string").as("lang"),
          $"pred_label".cast("string").as("pred_lang"), $"correct"))
        .collect()
      val micro = ev.find(_.getString(0) == "_micro").get
      assert(micro.getAs[Long]("support") == out.count())
    } finally out.unpersist(blocking = false)
  }

  test("e31 PCA variance: one-axis cloud explains exactly 1, mixed cloud its known share") {
    import spark.implicits._
    // all variance on axis 1: C = diag(2,0), one power round lands on e1
    // exactly → pc scores ±2, λ = 4... over n=2: sq = 8, λ = s2/2 = 4,
    // tv = 4 → share exactly 1
    val one = Seq((1L, 1, 2.0), (1L, 2, 0.0), (2L, 1, -2.0), (2L, 2, 0.0))
      .toDF("vec_id", "i", "cx").cache()
    val r1 = Similarity.pcaVariance(one).collect()(0)
    assert(r1.getAs[Long]("n_vectors") == 2L)
    assert(r1.getAs[Double]("explained_share") == 1.0, s"$r1")
    assert(r1.getAs[Double]("pc1_var") == 4.0 && r1.getAs[Double]("var_total") == 4.0)
    one.unpersist(blocking = false)
    // independent axes with variances 2 and 0.5 → share → 0.8
    val mixed = Seq(
      (1L, 1, 2.0), (1L, 2, 0.0), (2L, 1, -2.0), (2L, 2, 0.0),
      (3L, 1, 0.0), (3L, 2, 1.0), (4L, 1, 0.0), (4L, 2, -1.0))
      .toDF("vec_id", "i", "cx").cache()
    val r2 = Similarity.pcaVariance(mixed).collect()(0)
    assert(r2.getAs[Double]("var_total") == 2.5, s"$r2")
    val share = r2.getAs[Double]("explained_share")
    assert(share > 0.75 && share <= 0.8000001, s"share $share")
    mixed.unpersist(blocking = false)
  }

  test("e31 on testdata: one row, share in (0, 1], trace positive") {
    val r0 = Similarity.e31PcaVariance(spark, sfSmall).collect()(0)
    assert(r0.getAs[Double]("var_total") > 0)
    val share = r0.getAs[Double]("explained_share")
    assert(share > 0.0 && share <= 1.0000001, s"$r0")
  }

  test("e32 cosine baseline: identical and orthogonal plants land in their bins") {
    import spark.implicits._
    // 3 identical vectors (3 pairs at cos 1 → bin 19) + 2 orthogonal
    // (1 pair at cos 0 → bin 10) + 6 cross pairs at cos ~0.7 (bin 17)
    def vec(axis: Int): Seq[Double] = Seq.tabulate(4)(i => if (i == axis) 1.0 else 0.0)
    val both = Seq(1.0, 1.0, 0.0, 0.0).map(_ / math.sqrt(2.0))
    val rows = Seq(
      (1L, vec(0)), (2L, vec(0)), (3L, vec(0)),
      (4L, vec(1)), (5L, both))
      .map { case (id, v) => (id, v, math.sqrt(v.map(x => x * x).sum)) }
      .toDF("vec_id", "v", "nrm")
    val out = Similarity.cosineBaseline(rows).collect()
      .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n_pairs")).toMap
    assert(out.size == 20 && out.values.sum == 10L)
    assert(out(19L) == 3L, out.toString)   // the 3 identical pairs
    assert(out(10L) == 3L, out.toString)   // cos 0: (1,4),(2,4),(3,4)
    assert(out(17L) == 4L, out.toString)   // cos ≈ 0.707: id 5 vs 1,2,3,4
  }

  test("e32 on testdata: 20 bins, shares sum to 1, p95 above mean") {
    import spark.implicits._
    val out = Similarity.e32CosineBaseline(spark, sfSmall).collect()
    assert(out.length == 20)
    val shares = out.map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-4, s"$shares")
    val r0 = out.head
    assert(r0.getAs[Double]("p95_cos") >= r0.getAs[Double]("mean_cos"))
  }

  test("similarity oracles cover every query (all hash-checked since r4)") {
    assert(Similarity.oracles.keySet == Similarity.queries.keySet)
  }

  test("k-means assignment against an EMPTY centroid set yields zero rows") {
    import spark.implicits._
    val c = Seq((1L, Seq(0.0, 1.0)), (2L, Seq(2.0, 3.0))).toDF("vec_id", "v")
    val none = Seq.empty[(Int, Seq[Double])].toDF("cid", "cv")
    assert(Similarity.centroidPack(none, $"cid", $"cv").count() == 0L)
    assert(Similarity.kmAssign(c, none).count() == 0L,
      "no centroid may assign no row — never one null-cid row per vector")
    // the guard keeps the non-empty case: every vector gets its centroid
    val one = Seq((0, Seq(0.0, 0.0))).toDF("cid", "cv")
    assert(Similarity.kmAssign(c, one).select($"cid").as[Int].collect().toSeq == Seq(0, 0))
  }
}
