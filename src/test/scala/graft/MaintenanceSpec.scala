package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.functions._
import graft.ml.Maintenance
import graft.operators.TempLakes

class MaintenanceSpec extends GraftSpec {

  test("ml15 ablation: dropping a regressor never lowers train MSE, full model is the floor") {
    import spark.implicits._
    val rows = Maintenance.ml15Ablation(spark, sfTiny).collect()
      .map(r => r.getAs[String]("model") -> r).toMap
    assert(rows.keySet == Set("full", "drop_x1", "drop_x2"))
    assert(rows("full").getAs[Double]("importance") == 0.0)
    assert(rows("full").getAs[Double]("w1") != 0.0 && rows("full").getAs[Double]("w2") != 0.0)
    Seq("drop_x1", "drop_x2").foreach { m =>
      assert(rows(m).getAs[Double]("importance") >= 0.0, s"${rows(m)}")
      assert(rows(m).getAs[Double]("mse_train") >= rows("full").getAs[Double]("mse_train") - 1e-6)
    }
    // the dropped weight really is zeroed in the refit
    assert(rows("drop_x1").getAs[Double]("w1") == 0.0)
    assert(rows("drop_x2").getAs[Double]("w2") == 0.0)
  }

  test("ml14 ridge: train MSE non-decreasing, weight norm shrinks, OLS stays accurate") {
    import spark.implicits._
    val rows = Maintenance.ml14Ridge(spark, sfTiny).orderBy($"lam").collect()
    assert(rows.length == Maintenance.RidgeLams.length)
    val mse = rows.map(_.getAs[Double]("mse_train"))
    val nrm = rows.map(_.getAs[Double]("w_norm"))
    // ridge theorems on the training objective (rounding slack 1e-6)
    assert(mse.zip(mse.tail).forall { case (a, b) => b >= a - 1e-6 }, mse.mkString(","))
    assert(nrm.zip(nrm.tail).forall { case (a, b) => b <= a + 1e-6 }, nrm.mkString(","))
    // the grid actually bites: the heaviest penalty strictly shrinks ‖w‖
    assert(nrm.last < nrm.head, s"${nrm.head} -> ${nrm.last}")
    // λ=0 is ml03's OLS fit — its threshold accuracy on the twin is high
    assert(rows.head.getAs[Double]("accuracy") >= 0.95, s"${rows.head}")
  }

  test("RF agrees with the threshold rule on every record (separable data)") {
    val df = Maintenance.ml01RfScoring(spark, sfTiny).cache()
    assert(df.count() == 10000L)
    assert(df.filter(col("rf_prediction") =!= col("rule_prediction")).count() == 0)
    assert(df.filter(col("rf_prediction") =!= col("is_anomaly")).count() == 0)
    df.unpersist()
  }

  test("ml02 logistic regression recovers the rule boundary with calibrated probabilities") {
    val df = Maintenance.ml02LrScoring(spark, sfTiny).cache()
    try {
      assert(df.count() == 10000L)
      assert(df.filter(col("p_anomaly") < 0 || col("p_anomaly") > 1).count() == 0)
      // the twin is linearly separable, so the LR boundary must agree with
      // the generating rule on (at least) 99.9% of records
      val disagree = df.filter(col("lr_prediction") =!= col("is_anomaly")).count()
      assert(disagree <= 10L, s"$disagree disagreements")
      // calibration sanity: anomalies score higher on average than normals
      val pAnom = df.filter(col("is_anomaly") === 1).agg(avg("p_anomaly")).collect()(0).getDouble(0)
      val pNorm = df.filter(col("is_anomaly") === 0).agg(avg("p_anomaly")).collect()(0).getDouble(0)
      assert(pAnom > 0.9 && pNorm < 0.1, s"pAnom=$pAnom pNorm=$pNorm")
    } finally df.unpersist()
  }

  test("ml03 closed-form least-squares classifier recovers the rule exactly") {
    val df = Maintenance.ml03LsqScoring(spark, sfTiny).cache()
    try {
      assert(df.count() == 10000L)
      // the twin is linearly separable with well-separated classes, so the
      // 0.5-thresholded linear-probability model must agree with the
      // generating rule on every record (measured: 10000/10000)
      assert(df.filter(col("lsq_prediction") =!= col("is_anomaly")).count() == 0)
      // scores are a regression output, not probabilities — but they must
      // stay in a sane band around [0,1] for calibrated downstream use
      assert(df.filter(col("score") < -0.5 || col("score") > 1.5).count() == 0)
    } finally df.unpersist()
  }

  test("ml04 gradient-descent classifier recovers the rule exactly in 3 steps") {
    val df = Maintenance.ml04GdScoring(spark, sfTiny).cache()
    try {
      assert(df.count() == 10000L)
      // separable standardized data: 3 full-batch GD steps at lr=1 put
      // every record on the right side of 0.5 (measured: 10000/10000)
      assert(df.filter(col("gd_prediction") =!= col("is_anomaly")).count() == 0)
      // the rational sigmoid maps into (0,1) by construction
      assert(df.filter(col("score") <= 0.0 || col("score") >= 1.0).count() == 0)
      // calibration direction: anomalies score above normals on average
      val pAnom = df.filter(col("is_anomaly") === 1).agg(avg("score")).collect()(0).getDouble(0)
      val pNorm = df.filter(col("is_anomaly") === 0).agg(avg("score")).collect()(0).getDouble(0)
      assert(pAnom > 0.6 && pNorm < 0.4, s"pAnom=$pAnom pNorm=$pNorm")
    } finally df.unpersist()
  }

  test("ml13 boosted stumps: hand-derivable trace on a separable plant") {
    import spark.implicits._
    // two classes split by x1 at ≤70 vs 90, x2 constant (every x2 split is
    // degenerate → gain −1). f0 = 0.5; each round re-picks the same θ=70
    // stump (tie-break: smallest winning θ) and halves the residual:
    // F1 = 0.25/0.75, F2 = 0.125/0.875, F3 = 0.0625/0.9375.
    val t = Seq(
      (1L, 0, 0.0, 70.0, 1.0), (2L, 0, 0.0, 70.0, 1.0),
      (3L, 1, 1.0, 90.0, 1.0), (4L, 1, 1.0, 90.0, 1.0))
      .toDF("id", "is_anomaly", "y", "x1", "x2")
    val cands = Seq((1, 70.0), (1, 75.0), (1, 80.0), (1, 85.0), (1, 90.0),
      (2, 2.0), (2, 2.5), (2, 3.0), (2, 3.5), (2, 4.0))
    val out = Maintenance.gbtTrainScore(t, cands).collect()
    assert(out.length == 4)
    def sc(id: Long) = out.find(_.getAs[Long]("id") == id).get
    assert(sc(1L).getAs[Double]("score") == 0.0625, s"${sc(1L)}")
    assert(sc(2L).getAs[Double]("score") == 0.0625)
    assert(sc(3L).getAs[Double]("score") == 0.9375, s"${sc(3L)}")
    assert(sc(4L).getAs[Double]("score") == 0.9375)
    assert(out.forall(r =>
      r.getAs[Int]("gbt_prediction") == r.getAs[Int]("is_anomaly")))
  }

  test("ml13 on the generator twin: the ensemble recovers the anomaly rule") {
    val df = Maintenance.ml13GbtStumps(spark, sfTiny).cache()
    try {
      assert(df.count() == 10000L)
      // temp ≥ 80 alone separates the twin almost perfectly; 3 stump
      // rounds must land ≥ 99.5% agreement with the labels
      val acc = df.filter(col("gbt_prediction") === col("is_anomaly")).count() / 10000.0
      assert(acc >= 0.995, s"acc=$acc")
      assert(df.filter(col("score") < -0.5 || col("score") > 1.5).count() == 0)
    } finally df.unpersist()
  }

  test("ml11 k-fold CV: fold algebra closes and every held-out fold is near-perfect") {
    val df = Maintenance.ml11KfoldCv(spark, sfTiny).cache()
    try {
      val rows = df.collect()
      assert(rows.length == 4, s"${rows.length} folds")
      // the folds partition the corpus: test sizes sum to the corpus and
      // each fold's train + test is the whole corpus
      assert(rows.map(_.getAs[Long]("n_test")).sum == 10000L)
      rows.foreach { r =>
        assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_test") == 10000L)
        assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_test"))
        // held-out generalization on the separable twin: each leave-one-
        // fold-out model must classify its unseen quarter near-perfectly
        assert(r.getAs[Double]("accuracy") >= 0.99, s"fold $r")
        assert(r.getAs[Double]("rmse") <= 0.5, s"fold $r")
      }
      // the four leave-one-out models are fit on 75% overlapping data, so
      // their weights must agree to the first decimal — a wrong fold
      // subtraction would scatter them
      Seq("b", "w1", "w2").foreach { c =>
        val ws = rows.map(_.getAs[Double](c))
        assert(ws.max - ws.min < 0.1, s"$c spread ${ws.mkString(",")}")
      }
    } finally df.unpersist()
  }

  test("ml29 walk-forward: 9 steps, prefix counts exact, every step's model generalizes") {
    import spark.implicits._
    val rows = Maintenance.ml29WalkForward(spark, sfTiny).collect()
      .sortBy(_.getAs[Long]("k"))
    assert(rows.length == 9)
    // exact time-decile prefixes: step k trains on (k+1)·1000 rows and
    // tests on the next 1000
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      assert(r.getAs[Long]("n_train") == (k + 1) * 1000L, r.toString)
      assert(r.getAs[Long]("n_test") == 1000L, r.toString)
      // the anomaly structure is stationary by construction, so every
      // next-period evaluation should stay strong
      assert(r.getAs[Double]("accuracy") >= 0.95, r.toString)
    }
    // weights converge toward ml12's full-prefix weights as k grows
    val last = rows.last
    assert(math.abs(last.getAs[Double]("w1")) + math.abs(last.getAs[Double]("w2")) > 0)
  }

  test("ml12 learning curve: prefix algebra closes, every prefix model generalizes") {
    val df = Maintenance.ml12LearningCurve(spark, sfTiny).cache()
    try {
      val rows = df.collect()
      assert(rows.length == 9, s"${rows.length} curve points")
      // prefixes grow strictly and the test decile is fixed
      val nt = rows.map(_.getAs[Long]("n_train"))
      assert(nt.zip(nt.tail).forall { case (a, b) => a < b }, nt.mkString(","))
      assert(rows.map(_.getAs[Long]("n_test")).distinct.length == 1)
      assert(nt.last + rows(0).getAs[Long]("n_test") == 10000L)
      // the twin is separable: even the smallest prefix recovers the rule
      rows.foreach { r =>
        assert(r.getAs[Double]("accuracy") >= 0.98, s"$r")
        assert(r.getAs[Double]("rmse") <= 0.5, s"$r")
      }
      // weights converge: the largest two prefixes agree to 2 decimals
      val last2 = rows.takeRight(2)
      Seq("b", "w1", "w2").foreach { c =>
        val Seq(a, b) = last2.map(_.getAs[Double](c)).toSeq
        assert(math.abs(a - b) < 0.05, s"$c: $a vs $b")
      }
    } finally df.unpersist()
  }

  test("held-out precision/recall reproduce the reference's 1.00/1.00") {
    val (p, r) = Maintenance.evaluate(spark)
    assert(p == 1.0, s"precision $p")
    assert(r == 1.0, s"recall $r")
  }

  test("ml30 linear attribution: shares sum to 1 and temperature dominates the anomaly signal") {
    val rows = Maintenance.ml30LinearAttribution(spark, sfTiny)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq("temperature", "vibration"))
    val shares = rows.map(_._4)
    assert(math.abs(shares.sum - 1.0) <= 2e-6, s"shares ${shares.toSeq}")
    assert(rows.forall(_._3 >= 0.0), "mean |contribution| must be non-negative")
    // the generator plants the anomaly in temperature (+15 C spike vs a
    // +1.2 vibration bump on much smaller spread): the linear model must
    // attribute most of its output variation to temperature
    val byFeat = rows.map(r => r._1 -> r._4).toMap
    assert(byFeat("temperature") > 0.5,
      s"temperature share ${byFeat("temperature")} should dominate")
  }

  test("ml33 permutation importance: base is clean, both features hurt, ranking matches ml30") {
    val rows = Maintenance.ml33PermImportance(spark, sfTiny)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq("_base", "x1", "x2"))
    val byFeat = rows.map(r => r._1 -> r._3).toMap
    assert(byFeat("_base") == 0.0, "the unpermuted leg is its own baseline")
    // both sensors carry real signal on the planted twin: scrambling
    // either must increase the MSE
    assert(byFeat("x1") > 0.0 && byFeat("x2") > 0.0, byFeat.toString)
    // consistency with the EXACT linear-SHAP attribution (ml30):
    // temperature (x1) dominates there, so its permutation must hurt more
    assert(byFeat("x1") > byFeat("x2"),
      s"temperature's permutation should dominate: $byFeat")
    // permuted MSEs sit above the baseline MSE itself
    val mse0 = rows.find(_._1 == "_base").get._2
    assert(rows.filter(_._1 != "_base").forall(_._2 > mse0))
  }

  test("model save/load roundtrip preserves predictions (S8)") {
    val dir = TempLakes.dir("graft-model")
    val model = Maintenance.train(spark)
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val a = model.transform(operators.Telemetry.twin(spark))
      .select("id", "prediction").collect().sortBy(_.getLong(0))
    val b = loaded.transform(operators.Telemetry.twin(spark))
      .select("id", "prediction").collect().sortBy(_.getLong(0))
    assert(a.sameElements(b))
  }
}
