package graft

import org.apache.spark.sql.functions._
import graft.operators.{Corpus, DedupLsh, TextOps}

class CorpusSpec extends GraftSpec {

  test("ml21 langid eval: micro row equals d03's correct share, classes well-formed") {
    import spark.implicits._
    val out = operators.Corpus.ml21LangidEval(spark, sfTiny).collect()
    val micro = out.find(_.getAs[String]("lang") == "_micro").get
    val d03 = operators.TextOps.d03LangId(spark, sfTiny)
      .agg(count(lit(1)), sum($"correct")).collect()(0)
    assert(micro.getAs[Long]("support") == d03.getLong(0))
    assert(micro.getAs[Long]("tp") == d03.getLong(1))
    out.filter(_.getAs[String]("lang") != "_micro").foreach { r =>
      assert(r.getAs[Double]("prec") >= 0 && r.getAs[Double]("prec") <= 1, s"$r")
      assert(r.getAs[Double]("rec") >= 0 && r.getAs[Double]("rec") <= 1, s"$r")
      assert(r.getAs[Long]("tp") <= r.getAs[Long]("support").max(r.getAs[Long]("predicted")))
    }
  }

  test("ml23 Brier: matches a driver-side recount and sits in [0, 1]") {
    import spark.implicits._
    val r0 = operators.Corpus.ml23Brier(spark, sfTiny).collect()(0)
    val sc = operators.Corpus.ml06QualityClassifier(spark, sfTiny)
      .select($"label".cast("double"), $"score").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val n = sc.length
    assert(r0.getAs[Long]("n") == n.toLong)
    // driver recount with the same decimal quantization
    val bd = sc.map { case (y, p) =>
      BigDecimal((p - y) * (p - y)).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val brier = operators.Num.rD(bd.toDouble / n, 6)
    assert(r0.getAs[Double]("brier") == brier, s"$r0 vs $brier")
    assert(r0.getAs[Double]("brier") >= 0 && r0.getAs[Double]("brier") <= 1)
    assert(r0.getAs[Double]("skill") <= 1.0)
    // skill identity on the rounded report columns (NOT sign-pinned:
    // ml06's 4 blunt GD steps rank well — AUC/ml17 — but are only mildly
    // sharper than climatology, so Brier skill hovers near 0 at sfTiny)
    val skill = operators.Num.rD(
      1.0 - r0.getAs[Double]("brier") / r0.getAs[Double]("brier_ref"), 6)
    assert(r0.getAs[Double]("skill") == skill, s"$r0 vs $skill")
  }

  test("ml22 McNemar: cells partition the paired subset and match driver-side recounts") {
    import spark.implicits._
    val r0 = operators.Corpus.ml22Mcnemar(spark, sfTiny).collect()(0)
    val nb = operators.Corpus.ml05NaiveBayes(spark, sfTiny)
      .select($"doc_id", $"correct".as("c1")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("c1")).toMap
    val knn = operators.Corpus.ml07KnnClassify(spark, sfTiny)
      .select($"doc_id", $"correct".as("c2")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("c2")).toMap
    val paired = knn.keySet.intersect(nb.keySet)
    assert(r0.getAs[Long]("n_pairs") == paired.size.toLong, s"$r0")
    val b = paired.count(k => nb(k) == 1 && knn(k) == 0)
    val c = paired.count(k => nb(k) == 0 && knn(k) == 1)
    assert(r0.getAs[Long]("only_nb") == b.toLong && r0.getAs[Long]("only_knn") == c.toLong)
    assert(r0.getAs[Long]("both_right") + r0.getAs[Long]("only_nb") +
      r0.getAs[Long]("only_knn") + r0.getAs[Long]("both_wrong") ==
      r0.getAs[Long]("n_pairs"))
    val chi2 = if (b + c > 0) operators.Num.rD((b - c).toDouble * (b - c) / (b + c), 6) else 0.0
    assert(r0.getAs[Double]("chi2") == chi2, s"$r0 vs $chi2")
  }

  test("ml26 confusion cells: hand-counted grid, shares sum to 1 over all cells") {
    import spark.implicits._
    // errors: a→b ×3, a→c ×1, b→a ×2; correct rows must not count
    val preds = (Seq.fill(3)(("a", "b", 0)) ++ Seq(("a", "c", 0)) ++
      Seq.fill(2)(("b", "a", 0)) ++ Seq.fill(4)(("a", "a", 1)))
      .toDF("true_lang", "pred_lang", "correct")
    val rows = operators.Corpus.confusionCells(preds).collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("true_lang") == "a" &&
      rows(0).getAs[String]("pred_lang") == "b" &&
      rows(0).getAs[Long]("n_errors") == 3L)
    assert(rows(0).getAs[Double]("err_share") == 0.5)
    assert(rows.map(_.getAs[Double]("err_share")).sum == 1.0)
    assert(rows.map(_.getAs[Int]("rk")).toSeq == Seq(1, 2, 3))
  }

  test("ml26 on testdata: cells bound by ml08's error totals") {
    import spark.implicits._
    val out = operators.Corpus.ml26ConfusionCells(spark, sfTiny).collect()
    assert(out.nonEmpty && out.length <= 10)
    val totalErrs = operators.Corpus.ml05NaiveBayes(spark, sfTiny)
      .filter($"correct" === 0).count()
    assert(out.map(_.getAs[Long]("n_errors")).sum <= totalErrs)
    assert(out.forall(r => r.getAs[String]("true_lang") != r.getAs[String]("pred_lang")))
  }

  test("ml36 MCC: hand-computed confusion, perfect = 1, degenerate filtered") {
    import spark.implicits._
    // truths (a,a,a,b), preds (a,b,a,b): t_a=3 t_b=1, p_a=2 p_b=2, c=3,
    // s=4, Σpt=8, Σp²=8, Σt²=10 → mcc = 4/(√8·√6); acc 0.75;
    // bal_acc = (2/3 + 1/1)/2
    val preds = Seq(("a", "a"), ("a", "b"), ("a", "a"), ("b", "b"))
      .toDF("true_lang", "pred_lang")
    val r0 = operators.Corpus.mccOf(preds).collect()(0)
    assert(r0.getAs[Long]("n_docs") == 4L && r0.getAs[Long]("k_classes") == 2L)
    assert(r0.getAs[Double]("acc") == 0.75)
    assert(r0.getAs[Double]("bal_acc") ==
      operators.Num.rD((2.0 / 3.0 + 1.0) / 2.0, 6))
    assert(r0.getAs[Double]("mcc") ==
      operators.Num.rD(4.0 / (math.sqrt(8.0) * math.sqrt(6.0)), 6), r0.toString)
    // perfect prediction → mcc = 1, bal_acc = 1
    val perfect = Seq(("a", "a"), ("b", "b"), ("c", "c"))
      .toDF("true_lang", "pred_lang")
    val rp = operators.Corpus.mccOf(perfect).collect()(0)
    assert(rp.getAs[Double]("mcc") == 1.0 && rp.getAs[Double]("bal_acc") == 1.0)
    // degenerate single-class input: s² = Σt² → undefined, filtered out
    assert(operators.Corpus.mccOf(
      Seq(("a", "a"), ("a", "a")).toDF("true_lang", "pred_lang")).isEmpty)
    // on testdata: bounded in [-1, 1], accuracy matches ml05's own rate
    val out = operators.Corpus.ml36Mcc(spark, sfTiny).collect()(0)
    assert(math.abs(out.getAs[Double]("mcc")) <= 1.0)
    val nb = operators.Corpus.ml05NaiveBayes(spark, sfTiny)
    val accTrue = operators.Num.rD(
      nb.filter($"correct" === 1).count().toDouble / nb.count().toDouble, 6)
    assert(out.getAs[Double]("acc") == accTrue)
  }

  test("ml27 majority vote: every branch of the rule pinned") {
    import spark.implicits._
    val j = Seq(
      ("en", "en", "en", "en"), // unanimous → en
      ("en", "en", "de", "en"), // pa = pc → en
      ("en", "de", "en", "en"), // pa = pc? pa=de pb=en pc=en → pb = pc → en
      ("de", "de", "de", "fr"), // pa = pb → de
      ("fr", "en", "de", "zh")) // three-way split → pa = en
      .toDF("lang", "pa", "pb", "pc")
    val v = operators.Corpus.majorityVote(j).collect()
    assert(v.map(_.getAs[String]("pred_lang")).toSeq ==
      Seq("en", "en", "en", "de", "en"))
    assert(v.map(_.getAs[Int]("correct")).toSeq == Seq(1, 1, 1, 1, 0))
  }

  test("ml27 on testdata: micro support equals ml22's paired subset") {
    import spark.implicits._
    val ev = operators.Corpus.ml27EnsembleEval(spark, sfTiny).collect()
    val micro = ev.find(_.getString(0) == "_micro").get
    val r22 = operators.Corpus.ml22Mcnemar(spark, sfTiny).collect()(0)
    assert(micro.getAs[Long]("support") == r22.getAs[Long]("n_pairs"))
  }

  test("ml28 isotonic: hand-pooled violator sequence, monotone, conserving") {
    import spark.implicits._
    // equal weights, y = (0.1, 0.3, 0.2, 0.4): PAVA pools buckets 1,2 →
    // (0.1, 0.25, 0.25, 0.4)
    val b = Seq((0L, 10L, 0.05, 0.1), (1L, 10L, 0.15, 0.3),
      (2L, 10L, 0.25, 0.2), (3L, 10L, 0.35, 0.4))
      .toDF("bucket", "n", "mean_score", "obs_rate")
    val rows = operators.Corpus.isotonicOf(b).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Double]("iso_rate")).toMap
    assert(rows == Map(0L -> 0.1, 1L -> 0.25, 2L -> 0.25, 3L -> 0.4), rows.toString)
  }

  test("ml28 isotonic: weighted pool uses the weighted mean") {
    import spark.implicits._
    // y = (0.4 w1, 0.1 w3): pooled wmean = (0.4 + 0.3)/4 = 0.175 for both
    val b = Seq((0L, 1L, 0.1, 0.4), (1L, 3L, 0.2, 0.1))
      .toDF("bucket", "n", "mean_score", "obs_rate")
    val rows = operators.Corpus.isotonicOf(b).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Double]("iso_rate")).toMap
    assert(rows == Map(0L -> 0.175, 1L -> 0.175), rows.toString)
  }

  test("ml28 on testdata: monotone and weight-conserving against ml09's buckets") {
    import spark.implicits._
    val out = operators.Corpus.ml28IsotonicCalibration(spark, sfTiny).collect()
      .sortBy(_.getAs[Long]("bucket"))
    assert(out.nonEmpty)
    val iso = out.map(_.getAs[Double]("iso_rate"))
    assert(iso.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)), iso.mkString(","))
    val wObs = out.map(r => r.getAs[Long]("n") * r.getAs[Double]("obs_rate")).sum
    val wIso = out.map(r => r.getAs[Long]("n") * r.getAs[Double]("iso_rate")).sum
    assert(math.abs(wObs - wIso) < out.map(_.getAs[Long]("n")).sum * 1e-5,
      s"conservation: $wObs vs $wIso")
  }

  test("ml24 Cohen kappa: hand-computed 2x2 agreement grid") {
    import spark.implicits._
    // 4 (y,y), 3 (n,n), 2 (y,n), 1 (n,y): po = 0.7,
    // pe = (6·5 + 4·5)/100 = 0.5, kappa = 0.4
    val pairs = (Seq.fill(4)(("y", "y")) ++ Seq.fill(3)(("n", "n")) ++
      Seq.fill(2)(("y", "n")) ++ Seq.fill(1)(("n", "y"))).toDF("pa", "pb")
    val r0 = operators.Corpus.cohenKappa(pairs).collect()(0)
    assert(r0.getAs[Long]("n_pairs") == 10L && r0.getAs[Long]("n_agree") == 7L)
    assert(r0.getAs[Double]("po") == 0.7 && r0.getAs[Double]("pe") == 0.5)
    assert(r0.getAs[Double]("kappa") == 0.4, s"$r0")
  }

  test("ml24 Cohen kappa: perfect two-label agreement scores 1, constant raters 0") {
    import spark.implicits._
    val perfect = (Seq.fill(5)(("a", "a")) ++ Seq.fill(5)(("b", "b"))).toDF("pa", "pb")
    assert(operators.Corpus.cohenKappa(perfect).collect()(0)
      .getAs[Double]("kappa") == 1.0)
    val const = Seq.fill(6)(("a", "a")).toDF("pa", "pb")
    assert(operators.Corpus.cohenKappa(const).collect()(0)
      .getAs[Double]("kappa") == 0.0) // pe = 1 degenerate case
  }

  test("ml24 on testdata: pairs match ml22's, kappa bounded") {
    import spark.implicits._
    val r0 = operators.Corpus.ml24CohenKappa(spark, sfTiny).collect()(0)
    val r22 = operators.Corpus.ml22Mcnemar(spark, sfTiny).collect()(0)
    assert(r0.getAs[Long]("n_pairs") == r22.getAs[Long]("n_pairs"))
    val k = r0.getAs[Double]("kappa")
    assert(k >= -1.0 && k <= 1.0, s"$r0")
  }

  test("ml25 gains: perfect ranker lifts 5x in the top deciles, full depth closes at 1") {
    import spark.implicits._
    // 100 distinct scores i/100, positives = top 20 → deciles 1-2 all
    // positive: capture 0.5 then 1.0, lift 5.0 at both depths
    val sc = (1 to 100).map(i => (if (i > 80) 1L else 0L, i / 100.0)).toDF("y", "score")
    val rows = operators.Corpus.gainsTable(sc).collect()
      .map(r => r.getAs[Long]("decile") -> r).toMap
    assert(rows.size == 10)
    assert(rows(1L).getAs[Long]("n") == 10L && rows(1L).getAs[Long]("n_pos") == 10L)
    assert(rows(1L).getAs[Double]("capture") == 0.5 &&
      rows(1L).getAs[Double]("lift") == 5.0)
    assert(rows(2L).getAs[Double]("capture") == 1.0 &&
      rows(2L).getAs[Double]("lift") == 5.0)
    assert(rows(10L).getAs[Double]("capture") == 1.0 &&
      rows(10L).getAs[Double]("lift") == 1.0)
  }

  test("ml25 gains: constant scorer collapses to one decile at lift 1") {
    import spark.implicits._
    val sc = (1 to 40).map(i => (if (i % 4 == 0) 1L else 0L, 0.5)).toDF("y", "score")
    val rows = operators.Corpus.gainsTable(sc).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("decile") == 10L)
    assert(rows(0).getAs[Double]("capture") == 1.0 &&
      rows(0).getAs[Double]("lift") == 1.0)
  }

  test("ml25 on testdata: cumulative columns monotone, full depth closes at 1") {
    import spark.implicits._
    val out = operators.Corpus.ml25Gains(spark, sfTiny).collect()
    assert(out.nonEmpty && out.length <= 10)
    val sorted = out.sortBy(_.getAs[Long]("decile"))
    assert(sorted.map(_.getAs[Long]("cum_n")).sliding(2)
      .forall(p => p.length < 2 || p(0) < p(1)))
    assert(sorted.last.getAs[Double]("capture") == 1.0)
    assert(sorted.last.getAs[Double]("lift") == 1.0)
  }

  test("ml16 PR curve: hand-computed operating points on a planted score column") {
    import spark.implicits._
    val scored = Seq((1, 0.9), (1, 0.7), (0, 0.6), (1, 0.4), (0, 0.2))
      .toDF("label", "score")
    val rows = operators.Corpus.prCurve(scored).collect()
      .map(r => math.round(r.getAs[Double]("tau") * 10).toInt -> r).toMap
    assert(rows.size == 9)
    // τ=0.5: tp=2 fp=1 fn=1; τ=0.3: tp=3 fp=1 fn=0; τ=0.8: tp=1 fp=0 fn=2
    assert(rows(5).getAs[Double]("precision") == 0.666667 &&
      rows(5).getAs[Double]("recall") == 0.666667 &&
      rows(5).getAs[Double]("f1") == 0.666667, s"${rows(5)}")
    assert(rows(3).getAs[Double]("precision") == 0.75 &&
      rows(3).getAs[Double]("recall") == 1.0 &&
      rows(3).getAs[Double]("f1") == 0.857143, s"${rows(3)}")
    assert(rows(8).getAs[Double]("precision") == 1.0 &&
      rows(8).getAs[Double]("recall") == 0.333333 &&
      rows(8).getAs[Double]("f1") == 0.5, s"${rows(8)}")
  }

  test("ml17 ROC/AUC: separable scores give AUC=1, tied mix gives the hand-computed U") {
    import spark.implicits._
    val sep = Seq((1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)).toDF("label", "score")
    val r1 = operators.Corpus.rocAuc(sep).collect()
    assert(r1.length == 9)
    assert(r1.forall(_.getAs[Double]("auc") == 1.0))
    assert(r1.forall(_.getAs[Double]("gini") == 1.0))
    val at5 = r1.find(r => math.round(r.getAs[Double]("tau") * 10) == 5).get
    assert(at5.getAs[Long]("tp") == 2 && at5.getAs[Long]("fp") == 0 &&
      at5.getAs[Double]("tpr") == 1.0 && at5.getAs[Double]("fpr") == 0.0)
    // pos {0.8, 0.5, 0.5, 0.2}, neg {0.7, 0.5, 0.3}:
    // U = 3 (0.8 beats all) + 2·(1 + ½) (0.5s beat 0.3, tie 0.5) + 0 = 6
    // AUC = 6 / (4·3) = 0.5 exactly, gini 0
    val tied = Seq((1, 0.8), (1, 0.5), (1, 0.5), (1, 0.2),
      (0, 0.7), (0, 0.5), (0, 0.3)).toDF("label", "score")
    val r2 = operators.Corpus.rocAuc(tied).collect()
    assert(r2.forall(_.getAs[Double]("auc") == 0.5))
    assert(r2.forall(_.getAs[Double]("gini") == 0.0))
    assert(r2.forall(r => r.getAs[Long]("n_pos") == 4 && r.getAs[Long]("n_neg") == 3))
    val t5 = r2.find(r => math.round(r.getAs[Double]("tau") * 10) == 5).get
    assert(t5.getAs[Long]("tp") == 3 && t5.getAs[Long]("fp") == 2 &&
      t5.getAs[Double]("tpr") == 0.75 && t5.getAs[Double]("fpr") == 0.666667)
  }

  test("ml32 DeLong: zero variance when separable, hand-computed variance interleaved") {
    import spark.implicits._
    // perfectly separable: every placement is 1 → S10 = S01 = 0 → se 0,
    // CI degenerates to [1, 1]
    val sep = Seq((1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)).toDF("label", "score")
    val r1 = operators.Corpus.delongAuc(sep).collect()(0)
    assert(r1.getAs[Long]("n_pos") == 2 && r1.getAs[Long]("n_neg") == 2)
    assert(r1.getAs[Double]("auc") == 1.0 && r1.getAs[Double]("auc_se") == 0.0)
    assert(r1.getAs[Double]("ci_lo") == 1.0 && r1.getAs[Double]("ci_hi") == 1.0)
    // interleaved pos {0.9, 0.2}, neg {0.8, 0.1}: AUC = 3/4;
    // V10 = {1, ½}, V01 = {½, 1} → S10 = S01 = 2·(¼)²/1 = 0.125;
    // var = 0.125/2 + 0.125/2 = 0.125, se = √0.125
    val mix = Seq((1, 0.9), (1, 0.2), (0, 0.8), (0, 0.1)).toDF("label", "score")
    val r2 = operators.Corpus.delongAuc(mix).collect()(0)
    assert(r2.getAs[Double]("auc") == 0.75, s"$r2")
    def rd(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r2.getAs[Double]("auc_se") == rd(math.sqrt(0.125)), s"$r2")
    assert(r2.getAs[Double]("ci_lo") == rd(math.max(0.0, 0.75 - 1.96 * math.sqrt(0.125))))
    assert(r2.getAs[Double]("ci_hi") == rd(math.min(1.0, 0.75 + 1.96 * math.sqrt(0.125))))
    // a single positive cannot carry a sample variance: se pins to 0
    val one = Seq((1, 0.9), (0, 0.8), (0, 0.1)).toDF("label", "score")
    assert(operators.Corpus.delongAuc(one).collect()(0).getAs[Double]("auc_se") == 0.0)
  }

  test("ml34 Cochran's Q: hand-computed panel, all-agree degeneracy") {
    import spark.implicits._
    // docs × (c1,c2,c3): G = (3,3,1), T = 7, ΣL² = 9+1+4+1 = 15
    // Q = 2·(3·(9+9+1) − 49) / (3·7 − 15) = 16/6 = 2.666667
    val rx = Seq((1, 1, 1), (1, 0, 0), (1, 1, 0), (0, 1, 0))
      .toDF("c1", "c2", "c3")
    val r1 = operators.Corpus.cochranQ(rx).collect()(0)
    assert((r1.getAs[Long]("g1"), r1.getAs[Long]("g2"), r1.getAs[Long]("g3")) ==
      ((3L, 3L, 1L)))
    def rd(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(r1.getAs[Double]("q_stat") == rd(16.0 / 6.0), s"$r1")
    // unanimous panels (all right / all wrong) have zero denominator → 0
    val agree = Seq((1, 1, 1), (0, 0, 0)).toDF("c1", "c2", "c3")
    assert(operators.Corpus.cochranQ(agree).collect()(0)
      .getAs[Double]("q_stat") == 0.0)
    // McNemar equivalence sanity on testdata: Q ≥ 0, marginals ≤ n
    val out = operators.Corpus.ml34CochranQ(spark, sfTiny).collect()(0)
    val n = out.getAs[Long]("n_docs")
    assert(out.getAs[Double]("q_stat") >= 0.0)
    assert(Seq("g1", "g2", "g3").forall(c => out.getAs[Long](c) <= n))
  }

  test("ml17 on testdata: monotone curve, constant AUC, gini identity") {
    import spark.implicits._
    val out = operators.Corpus.ml17RocAuc(spark, sfTiny).orderBy($"tau").collect()
    assert(out.length == 9)
    val aucs = out.map(_.getAs[Double]("auc")).distinct
    assert(aucs.length == 1 && aucs.head >= 0.0 && aucs.head <= 1.0, aucs.toSeq)
    val tprs = out.map(_.getAs[Double]("tpr"))
    val fprs = out.map(_.getAs[Double]("fpr"))
    assert(tprs.sliding(2).forall(p => p(0) >= p(1)), tprs.toSeq)
    assert(fprs.sliding(2).forall(p => p(0) >= p(1)), fprs.toSeq)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("gini") - (2 * r.getAs[Double]("auc") - 1)) < 2e-6)
    }
  }

  test("ml18 target encode: hand-computed out-of-fold means, prior fallback, smoothing") {
    import spark.implicits._
    val d = Seq(("a", 0L, 1L), ("a", 0L, 0L), ("a", 1L, 1L), ("a", 1L, 1L),
      ("b", 0L, 0L)).toDF("lang", "fold", "y")
    val rows = operators.Corpus.targetEncode(d).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("fold")) -> r).toMap
    assert(rows.size == 3)
    // prior = 3/5 = 0.6 everywhere
    assert(rows.values.forall(_.getAs[Double]("prior") == 0.6))
    val a0 = rows(("a", 0L))
    assert(a0.getAs[Long]("n_oof") == 2 && a0.getAs[Long]("sum_oof") == 2 &&
      a0.getAs[Double]("enc_raw") == 1.0 &&
      a0.getAs[Double]("enc_smooth") == 0.666667, a0.toString)
    val a1 = rows(("a", 1L))
    assert(a1.getAs[Double]("enc_raw") == 0.5 &&
      a1.getAs[Double]("enc_smooth") == 0.583333, a1.toString)
    // lang b exists only in fold 0 → empty complement → prior fallback
    val b0 = rows(("b", 0L))
    assert(b0.getAs[Long]("n_oof") == 0 && b0.getAs[Double]("enc_raw") == 0.6 &&
      b0.getAs[Double]("enc_smooth") == 0.6, b0.toString)
  }

  test("ml18 on testdata: leave-out identity and bounded encodings") {
    import spark.implicits._
    val out = operators.Corpus.ml18TargetEncode(spark, sfTiny).collect()
    assert(out.nonEmpty)
    // within a lang: n_in_fold + n_oof is the same lang total for every fold
    out.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val totals = rs.map(r => r.getAs[Long]("n_in_fold") + r.getAs[Long]("n_oof")).distinct
      assert(totals.length == 1, totals.toSeq)
    }
    assert(out.forall { r =>
      val e = r.getAs[Double]("enc_smooth")
      e >= 0.0 && e <= 1.0 && r.getAs[Double]("enc_raw") >= 0.0 &&
        r.getAs[Double]("enc_raw") <= 1.0
    })
  }

  test("ml16 on testdata: recall non-increasing in tau, loose gate catches everything") {
    import spark.implicits._
    val out = operators.Corpus.ml16PrCurve(spark, sfTiny).orderBy($"tau").collect()
    assert(out.length == 9)
    val rec = out.map(_.getAs[Double]("recall"))
    assert(rec.zip(rec.tail).forall { case (a, b) => b <= a + 1e-9 }, rec.mkString(","))
    assert(rec.head >= 0.9, rec.head.toString) // τ=0.1 keeps nearly all targets
  }

  test("d43 order bias: clustered order alarms with χ² = 10, striped order scores 0") {
    import spark.implicits._
    // clustered: first half all A, second half all B → every decile is
    // pure, χ² = (10−5)²/5 + (0−5)²/5 = 10, dominant share 1.0
    val clustered = (0L until 100L)
      .map(i => (i, if (i < 50) "A" else "B")).toDF("doc_id", "src")
    val cr = operators.Corpus.orderBias(clustered).collect()
    assert(cr.length == 10)
    cr.foreach { r =>
      assert(r.getAs[Double]("chi2") == 10.0 && r.getAs[Double]("top_share") == 1.0, s"$r")
      assert(r.getAs[String]("top_source") ==
        (if (r.getAs[Long]("decile") < 5) "A" else "B"))
    }
    // striped (alternating): every decile matches the global mix exactly
    val striped = (0L until 100L)
      .map(i => (i, if (i % 2 == 0) "A" else "B")).toDF("doc_id", "src")
    operators.Corpus.orderBias(striped).collect().foreach { r =>
      assert(r.getAs[Double]("chi2") == 0.0 && r.getAs[Double]("top_share") == 0.5, s"$r")
      assert(r.getAs[String]("top_source") == "A") // tie breaks to the smaller name
    }
  }

  test("d41 JSD: identical source scores 0, disjoint halves hit the hand value") {
    import spark.implicits._
    // identical: both sources are "x y" → P = Q → JSD = 0, coverage = 1
    val same = Seq(("a", "x y"), ("b", "x y")).toDF("src", "text")
    operators.Corpus.jsDrift(same).collect().foreach { r =>
      assert(r.getAs[Double]("jsd") == 0.0 && r.getAs[Double]("coverage") == 1.0, s"$r")
    }
    // disjoint halves: a = "x x", b = "y y". For either source
    // t = ln(4/3) + 0.5·ln(2/3), JSD = t/2 + ln2/4 ≈ 0.215762
    val disj = Seq(("a", "x x"), ("b", "y y")).toDF("src", "text")
    operators.Corpus.jsDrift(disj).collect().foreach { r =>
      assert(r.getAs[Double]("coverage") == 0.5, s"$r")
      assert(r.getAs[Double]("jsd") == 0.215762, s"$r")
    }
  }

  test("d41 on testdata: one row per source, JSD within [0, ln 2]") {
    import spark.implicits._
    val out = operators.Corpus.d41JsDrift(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter($"jsd" < 0 || $"jsd" > 0.693148).count() == 0)
      assert(out.filter($"coverage" <= 0 || $"coverage" > 1).count() == 0)
    } finally out.unpersist(blocking = false)
  }

  test("d52 vocab coverage: hand-computed mass and type coverage with an OOV word") {
    import spark.implicits._
    val toks = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).map(("train", _)) ++
      (Seq.fill(2)("a") ++ Seq("b") ++ Seq("d")).map(("test", _))
    val rows = operators.Corpus.vocabCoverage(toks.toDF("split", "w"), Seq(1, 2))
      .collect().map(r => r.getAs[Int]("k_vocab") -> r).toMap
    // vocab ranks a=1, b=2, c=3; test mass = 4 tokens / 3 types ("d" is OOV)
    assert(rows(1).getAs[Long]("test_tokens") == 4L)
    assert(rows(1).getAs[Long]("covered_tokens") == 2L &&
      rows(1).getAs[Double]("token_coverage") == 0.5)
    assert(rows(1).getAs[Long]("covered_types") == 1L)
    assert(rows(2).getAs[Long]("covered_tokens") == 3L &&
      rows(2).getAs[Double]("token_coverage") == 0.75)
    assert(rows(2).getAs[Long]("test_types") == 3L &&
      rows(2).getAs[Long]("covered_types") == 2L)
  }

  test("d52 on testdata: one row per k, coverage monotone in k and bounded") {
    import spark.implicits._
    val out = operators.Corpus.d52VocabCoverage(spark, sfTiny).collect()
    assert(out.length == 3)
    val cov = out.sortBy(_.getAs[Int]("k_vocab")).map(_.getAs[Double]("token_coverage"))
    assert(cov.sliding(2).forall(p => p(0) <= p(1)), cov.mkString(","))
    assert(cov.forall(c => c >= 0.0 && c <= 1.0))
    // every row reports the same test totals
    assert(out.map(_.getAs[Long]("test_tokens")).distinct.length == 1)
  }

  test("d40 Heaps: one-new-word-per-doc corpus gives exact prefix counts") {
    import spark.implicits._
    // doc i = "base w{i}": prefix k holds k docs, 2k tokens, vocab k+1
    val docs = (0 until 10).map(i => (i.toLong, s"base w$i")).toDF("doc_id", "text")
    val rows = operators.Corpus.heapsLaw(docs).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      assert(r.getAs[Long]("cum_docs") == k, s"$r")
      assert(r.getAs[Long]("cum_tokens") == 2 * k, s"$r")
      assert(r.getAs[Long]("vocab") == k + 1, s"$r")
    }
    // growth slower than linear in tokens → β strictly inside (0, 1)
    val beta = rows.head.getAs[Double]("heaps_beta")
    assert(beta > 0.0 && beta < 1.0, beta.toString)
    assert(rows.map(_.getAs[Double]("heaps_beta")).distinct.length == 1)
  }

  test("d40 on testdata: 10 checkpoints, monotone growth, sub-linear beta") {
    import spark.implicits._
    val out = operators.Corpus.d40HeapsLaw(spark, sfTiny).cache()
    try {
      val rows = out.orderBy($"k").collect()
      assert(rows.length == 10)
      val toks = rows.map(_.getAs[Long]("cum_tokens"))
      val voc = rows.map(_.getAs[Long]("vocab"))
      assert(toks.zip(toks.tail).forall { case (a, b) => a <= b })
      assert(voc.zip(voc.tail).forall { case (a, b) => a <= b })
      // the synthetic ~40-word vocabulary saturates at the first
      // checkpoint — exactly the capped-vocabulary signal d40 exists to
      // flag — so β can legitimately round to 0 here; it must not be
      // negative (vocabulary never shrinks)
      assert(rows.head.getAs[Double]("heaps_beta") >= 0.0)
    } finally out.unpersist(blocking = false)
  }

  test("d37 stupid backoff: hand-planted corpus scores every backoff level exactly") {
    import spark.implicits._
    // train (h=0): trigrams "a b c"×2, "a b d"; bigrams a-b×3, b-c×2,
    // b-d×1; unigrams a×3 b×3 c×2 d×1, N=9. test (h=9):
    //   doc 4 "a b c d e": (a,b,c) tri-hit ln(2/3); (b,c,d) falls through
    //     to unigram 2·ln(0.4)+ln(1/9); (c,d,e) drops (e is OOV)
    //   doc 5 "b a b": (b,a,b) bigram-hit ln(0.4)+ln(3/3)
    val sp = Seq(
      (1L, "en", "a b c", 0), (2L, "en", "a b c", 0), (3L, "en", "a b d", 0),
      (4L, "en", "a b c d e", 9), (5L, "en", "b a b", 9))
      .toDF("doc_id", "lang", "text", "h")
    val rows = Corpus.stupidBackoff(sp).collect()
    assert(rows.length == 1)
    val r0 = rows(0)
    assert(r0.getAs[String]("lang") == "en")
    assert(r0.getAs[Long]("n_docs") == 2L)
    assert(r0.getAs[Long]("n_pos") == 3L)
    assert(r0.getAs[Long]("n_tri") == 1L)
    assert(r0.getAs[Long]("n_bi") == 1L)
    assert(r0.getAs[Long]("n_uni") == 1L)
    val pen = math.log(2) - math.log(5)
    val expected = operators.Num.rD(
      (math.log(2.0 / 3.0) + (pen + pen + math.log(1.0 / 9.0)) +
        (pen + math.log(3.0 / 3.0))) / 3.0, 6)
    assert(r0.getAs[Double]("avg_logp") == expected,
      s"${r0.getAs[Double]("avg_logp")} vs $expected")
  }

  test("d37 on testdata: level counts partition positions, scores are log-probabilities") {
    import spark.implicits._
    val out = Corpus.d37StupidBackoff(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      // the three backoff levels partition the scored positions
      assert(out.filter($"n_tri" + $"n_bi" + $"n_uni" =!= $"n_pos").count() == 0)
      // every per-position score is ln of a probability ≤ 1 (count ratios
      // are ≤ 1 by construction, the penalty is negative) → means ≤ 0
      assert(out.filter($"avg_logp" > 0).count() == 0)
      // the held-out decile genuinely exercises backoff at this scale
      val tot = out.agg(sum($"n_tri").as("t"), sum($"n_bi").as("b"),
        sum($"n_uni").as("u")).collect()(0)
      assert(tot.getAs[Long]("t") > 0)
      assert(tot.getAs[Long]("b") + tot.getAs[Long]("u") > 0)
    } finally out.unpersist()
  }

  test("d08 emits ≤3 ranked terms per doc, scores non-increasing in rank") {
    import spark.implicits._
    val out = Corpus.d08Tfidf(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter($"rk" < 1 || $"rk" > 3).count() == 0)
      // scores within a doc are non-increasing as rank grows
      val viol = out.groupBy($"doc_id")
        .agg(min(when($"rk" === 1, $"tfidf")).as("s1"),
          min(when($"rk" === 2, $"tfidf")).as("s2"),
          min(when($"rk" === 3, $"tfidf")).as("s3"))
        .filter(($"s2".isNotNull && $"s2" > $"s1") ||
          ($"s3".isNotNull && $"s3" > $"s2"))
        .count()
      assert(viol == 0)
      // a term present in every doc has idf = ln(1) = 0
      assert(out.filter($"tfidf" < 0).count() == 0)
    } finally out.unpersist()
  }

  test("d14 BM25: ≤3 ranked terms per doc, positive saturating scores") {
    import spark.implicits._
    val out = Corpus.d14Bm25(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter($"rk" < 1 || $"rk" > 3).count() == 0)
      // Lucene's idf form ln(1 + x) with x > 0 makes every score positive,
      // and tf-saturation bounds the tf factor by k1+1 = 2.2, so score
      // <= 2.2 * ln(1 + 2n) — a loose but structural ceiling
      assert(out.filter($"bm25" <= 0).count() == 0)
      val n = graft.Tables.documents(spark, sfTiny).count().toDouble
      assert(out.filter($"bm25" > 2.2 * math.log(1 + 2 * n)).count() == 0)
      // scores within a doc are non-increasing as rank grows
      val viol = out.groupBy($"doc_id")
        .agg(min(when($"rk" === 1, $"bm25")).as("s1"),
          min(when($"rk" === 2, $"bm25")).as("s2"),
          min(when($"rk" === 3, $"bm25")).as("s3"))
        .filter(($"s2".isNotNull && $"s2" > $"s1") ||
          ($"s3".isNotNull && $"s3" > $"s2"))
        .count()
      assert(viol == 0)
    } finally out.unpersist()
  }

  test("d15 TextRank: rank mass conserved, scores positive, pos is a total order") {
    import spark.implicits._
    val out = Corpus.d15Textrank(spark, sfTiny).cache()
    try {
      val n = out.count()
      assert(n > 0)
      // PageRank on a symmetric graph with no dangling nodes conserves
      // total rank mass = 1 (up to the r6 rounding of each of n terms)
      val mass = out.agg(sum($"score")).collect()(0).getDouble(0)
      assert(math.abs(mass - 1.0) < n * 1e-6 + 1e-9, s"mass $mass")
      assert(out.filter($"score" <= 0).count() == 0)
      // pos is 1..n with no gaps, ordered by (score desc, term)
      assert(out.agg(min($"pos"), max($"pos")).collect()(0) ===
        org.apache.spark.sql.Row(1, n.toInt))
      val viol = out.as[(String, Double, Int)].collect().sortBy(_._3)
        .sliding(2).exists { case Array(a, b) =>
          b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)
        case _ => false
        }
      assert(!viol)
    } finally out.unpersist()
  }

  test("d10 bigram LM: log-probs non-positive, unique-bigram docs score ln of rarity") {
    import spark.implicits._
    val out = Corpus.d10BigramLm(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      // MLE probabilities are ≤ 1 ⇒ mean log-prob ≤ 0
      assert(out.filter($"avg_logp" > 1e-9).count() == 0)
      // n_bigrams = token count − 1 for docs with ≥ 2 tokens
      val docs = Tables.documents(spark, sfTiny)
        .select($"doc_id", size(filter(split(trim(lower($"text")), "\\s+"),
          t => t =!= "")).as("nt"))
        .filter($"nt" >= 2)
      val bad = out.join(docs, "doc_id")
        .filter($"n_bigrams" =!= $"nt" - 1).count()
      assert(bad == 0)
      assert(out.count() == docs.count(), "every multi-token doc is scored")
    } finally out.unpersist()
  }

  test("d09 clusters: canonical is min member, edges stay intra-cluster, sizes conserve") {
    import spark.implicits._
    val out = Corpus.d09DedupClusters(spark, sfTiny).cache()
    try {
      val nDocs = Tables.documents(spark, sfTiny).count()
      assert(out.count() == nDocs, "one row per document")
      assert(out.filter($"cluster_id" > $"doc_id").count() == 0,
        "cluster id is the minimum member")
      // every near-dup edge joins two docs of the same cluster
      val lab = out.select($"doc_id", $"cluster_id")
      val pairs = TextOps.d05JaccardPairs(spark, sfTiny)
        .select($"doc_a", $"doc_b")
      val split = pairs
        .join(lab.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "ca"), "doc_a")
        .join(lab.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "cb"), "doc_b")
        .filter($"ca" =!= $"cb").count()
      assert(split == 0, "an edge crossed two clusters")
      // cluster sizes partition the corpus
      val sizeSum = out.select($"cluster_id", $"cluster_size").distinct()
        .agg(sum($"cluster_size")).collect()(0).getLong(0)
      assert(sizeSum == nDocs)
    } finally out.unpersist()
  }

  test("d11 LSH clusters: same invariants as d09 over the LSH edge set") {
    import spark.implicits._
    // d11 uses shingle-MinHash edges (stricter than d05's unigram Jaccard),
    // so its clusters legitimately differ from d09's — the invariants that
    // must hold are structural, against d11's OWN edge generator.
    val out = Corpus.d11LshClusters(spark, sfTiny).cache()
    try {
      val nDocs = Tables.documents(spark, sfTiny).count()
      assert(out.count() == nDocs, "one row per document")
      assert(out.filter($"cluster_id" > $"doc_id").count() == 0,
        "cluster id is the minimum member")
      val lab = out.select($"doc_id", $"cluster_id")
      val split = DedupLsh.lshPairs(spark, sfTiny).select($"doc_a", $"doc_b")
        .join(lab.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "ca"), "doc_a")
        .join(lab.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "cb"), "doc_b")
        .filter($"ca" =!= $"cb").count()
      assert(split == 0, "an LSH edge crossed two clusters")
      val sizeSum = out.select($"cluster_id", $"cluster_size").distinct()
        .agg(sum($"cluster_size")).collect()(0).getLong(0)
      assert(sizeSum == nDocs)
      // identical raw texts collide in every band (J = 1) → must share a
      // cluster (groups here are far below the 128 bucket cap)
      val sameText = Tables.documents(spark, sfTiny)
        .groupBy($"text").agg(min($"doc_id").as("rep"), collect_list($"doc_id").as("ids"))
        .filter(size($"ids") > 1)
        .select(explode($"ids").as("doc_id"), $"rep")
      val splitDups = sameText.join(lab, "doc_id")
        .groupBy($"rep").agg(countDistinct($"cluster_id").as("k"))
        .filter($"k" > 1).count()
      assert(splitDups == 0, "identical texts must co-cluster")
    } finally out.unpersist()
  }

  test("d25 DSIR: target-domain docs score higher on average, flag consistent") {
    import spark.implicits._
    val out = Corpus.d25DsirSelect(spark, sfTiny).cache()
    try {
      // every tokenized document gets exactly one score (toks is empty
      // exactly when the trimmed text is)
      val nTok = Tables.documents(spark, sfTiny)
        .filter(length(trim($"text")) > 0).count()
      assert(out.count() == nTok)
      // the defining DSIR property: the importance ratio separates the
      // target domain from the rest (E_target[lr] = +KL, E_raw[lr] ≈ −KL)
      val docs = Tables.documents(spark, sfTiny).select($"doc_id", $"source")
      val m = out.join(docs, "doc_id")
        .groupBy($"source".isin(Corpus.DsirTargetSrcs: _*).as("tgt"))
        .agg(avg($"dsir_score").as("m")).collect()
        .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      assert(m(true) > m(false),
        s"target mean ${m(true)} must exceed raw mean ${m(false)}")
      // flag is exactly the sign of the rounded score
      assert(out.filter(($"dsir_score" >= 0.0) =!= ($"selected" === 1)).count() == 0)
      // deterministic
      assert(out.collect().sameElements(Corpus.d25DsirSelect(spark, sfTiny).collect()))
    } finally out.unpersist()
  }

  test("d26 perplexity buckets: tertile partition ordered by score, target domain scores lower") {
    import spark.implicits._
    val out = Corpus.d26PerplexityBuckets(spark, sfTiny).cache()
    try {
      // one row per document with >= 2 tokens (bigrams need a pair)
      val nBig = Tables.documents(spark, sfTiny)
        .filter(size(filter(split(trim(lower($"text")), "\\s+"), t => t =!= "")) >= 2)
        .count()
      assert(out.count() == nBig)
      // cross-entropy under a smoothed LM is strictly positive
      assert(out.filter($"ce" <= 0.0).count() == 0)
      // buckets are contiguous score ranges: head below middle below tail
      val rng = out.groupBy($"bucket")
        .agg(min($"ce").as("lo"), max($"ce").as("hi")).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(rng.keySet == Set("head", "middle", "tail"))
      assert(rng("head")._2 <= rng("middle")._1, "head must end before middle starts")
      assert(rng("middle")._2 <= rng("tail")._1, "middle must end before tail starts")
      // tertiles: each bucket holds roughly a third (ties at the rounded
      // cutoff can shift a few docs between neighbours)
      val n = out.count().toDouble
      val sizes = out.groupBy($"bucket").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq("head", "middle", "tail").foreach { b =>
        assert(sizes(b) > n / 4 && sizes(b) < n / 2,
          s"$b holds ${sizes(b)} of $n — not a tertile") }
      // the defining CCNet property: documents from the LM's own training
      // domain are more predictable under it than out-of-domain documents
      val docs = Tables.documents(spark, sfTiny).select($"doc_id", $"source")
      val m = out.join(docs, "doc_id")
        .groupBy($"source".isin(Corpus.DsirTargetSrcs: _*).as("tgt"))
        .agg(avg($"ce").as("m")).collect()
        .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      assert(m(true) < m(false),
        s"target-domain mean ce ${m(true)} must be below out-of-domain ${m(false)}")
      // deterministic
      assert(out.collect().sameElements(Corpus.d26PerplexityBuckets(spark, sfTiny).collect()))
    } finally out.unpersist()
  }

  test("ml05 naive bayes: one row per test doc, scores non-positive, flag consistent") {
    import spark.implicits._
    val out = Corpus.ml05NaiveBayes(spark, sfTiny).cache()
    try {
      // the s03 "test" decile of the corpus, one prediction per doc —
      // the split MUST agree with s03's (shared h60 expression)
      val sp = graft.operators.Advanced.s03HashSplit(spark, sfTiny)
      val nTest = sp.filter($"split" === "test").count()
      assert(out.count() == nTest, "every test doc must get a prediction")
      assert(out.select($"doc_id").distinct().count() == nTest)
      // log-probability scores: ln(prior) + Σ ln(p ≤ 1) is always < 0
      assert(out.filter($"score" >= 0.0).count() == 0)
      // predicted langs come from the train split's label set
      val trainLangs = sp.filter($"split" === "train").select($"lang").distinct()
        .collect().map(_.getString(0)).toSet
      assert(out.select($"pred_lang").distinct().collect()
        .map(_.getString(0)).toSet.subsetOf(trainLangs))
      assert(out.filter(($"lang" === $"pred_lang").cast("int") =!= $"correct").count() == 0)
    } finally out.unpersist(blocking = false)
  }

  test("ml06 quality classifier: valid probabilities, target domains score higher") {
    import spark.implicits._
    val out = Corpus.ml06QualityClassifier(spark, sfTiny).cache()
    try {
      assert(out.count() == Tables.documents(spark, sfTiny).count())
      assert(out.filter($"score" <= 0.0 || $"score" >= 1.0).count() == 0)
      assert(out.filter(($"score" >= 0.5).cast("int") =!= $"keep").count() == 0)
      // the learnable signal on this corpus is small (8 hash buckets over
      // a 31-token vocabulary) but its direction must be right: the
      // target domains the labels come from score higher on average
      val m = out.groupBy($"label").agg(avg($"score").as("m")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(m(1) - m(0) > 0.001, s"separation ${m(1) - m(0)}")
    } finally out.unpersist(blocking = false)
  }

  test("ml06 separates a vocabulary-disjoint planted corpus completely") {
    import spark.implicits._
    val planted = ((1 to 10).map(k => (k.toLong, 1.0, s"good$k great quality prose text")) ++
      (11 to 20).map(k => (k.toLong, 0.0, s"spam$k junk noise filler garbage")))
      .toDF("doc_id", "y", "text")
    val rows = Corpus.qualityLr(planted).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Double]("score")))
    val pos = rows.filter(_._1 == 1).map(_._2)
    val neg = rows.filter(_._1 == 0).map(_._2)
    assert(pos.min > neg.max,
      s"classes must separate: pos min ${pos.min} vs neg max ${neg.max}")
  }

  test("ml05 on a vocabulary-separable planted corpus predicts every label") {
    import spark.implicits._
    // three langs with disjoint vocabularies; test docs reuse one lang's
    // vocabulary exclusively → NB must recover the label exactly
    val train = Seq(
      (1L, "aa", "cat cat dog"), (2L, "aa", "dog cat"),
      (3L, "bb", "fish whale shark"), (4L, "bb", "shark fish"),
      (5L, "cc", "oak pine elm"), (6L, "cc", "elm oak"))
      .toDF("doc_id", "lang", "text")
    val test = Seq(
      (10L, "aa", "cat dog dog"), (11L, "bb", "whale shark"),
      (12L, "cc", "pine elm oak"),
      // OOV-only doc: every token unseen → inner join drops it
      (13L, "aa", "zebra quagga"))
      .toDF("doc_id", "lang", "text")
    val rows = Corpus.naiveBayes(train, test).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("pred_lang"), r.getAs[Int]("correct")))).toMap
    assert(rows == Map(
      10L -> (("aa", 1)), 11L -> (("bb", 1)), 12L -> (("cc", 1))),
      s"got $rows")
  }

  test("ml08 eval on a hand-planted confusion matrix: P/R/F1 exact per class and micro") {
    import spark.implicits._
    // 4 predictions: aa→aa ✓, aa→bb ✗, bb→bb ✓, cc→bb ✗
    val preds = Seq(
      (1L, "aa", "aa", 1), (2L, "aa", "bb", 0),
      (3L, "bb", "bb", 1), (4L, "cc", "bb", 0))
      .toDF("doc_id", "lang", "pred_lang", "correct")
    val got = Corpus.classifierEval(preds).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got == Map(
      "_micro" -> ((4L, 4L, 2L, 0.5, 0.5, 0.5)),
      "aa" -> ((2L, 1L, 1L, 1.0, 0.5, 0.666667)),
      "bb" -> ((1L, 3L, 1L, 0.333333, 1.0, 0.5)),
      "cc" -> ((1L, 0L, 0L, 0.0, 0.0, 0.0))), s"got $got")
  }

  test("ml08 on the corpus is consistent with ml05's own predictions") {
    import spark.implicits._
    val preds = Corpus.ml05NaiveBayes(spark, sfTiny).cache()
    try {
      val out = Corpus.ml08ClassifierEval(spark, sfTiny).collect()
      val micro = out.find(_.getString(0) == "_micro").get
      assert(micro.getAs[Long]("support") == preds.count())
      assert(micro.getAs[Long]("tp") ==
        preds.agg(sum($"correct")).collect()(0).getLong(0))
      // per-class rows partition the predictions: supports sum to N
      assert(out.filter(_.getString(0) != "_micro")
        .map(_.getAs[Long]("support")).sum == preds.count())
      out.foreach { r =>
        Seq("prec", "rec", "f1").foreach { c =>
          val v = r.getAs[Double](c)
          assert(v >= 0.0 && v <= 1.0, s"${r.getString(0)} $c=$v") }
      }
    } finally preds.unpersist(blocking = false)
  }

  test("d33 PPMI hand-check: window-2 pairs and exact scores on a planted doc") {
    import spark.implicits._
    // one doc "a b c": pairs a·b, b·c (adjacent), a·c (skip-2); T=3;
    // focus marginals a:2 b:1, context marginals b:1 c:2.
    // PPMI(a,b) = ln(1·3/(2·1)) = 0.405465 = PPMI(b,c);
    // PPMI(a,c) = ln(3/4) < 0 → dropped by the positivity gate
    val got = Corpus.ppmiContexts(Seq(Tuple1("a b c")).toDF("text")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("a", 1, "b", 1L, 0.405465), ("b", 1, "c", 1L, 0.405465)), s"got ${got.toSeq}")
  }

  test("d33 on the corpus: dense positive-PPMI ranks, bounded fan-out, deterministic") {
    import spark.implicits._
    val out = Corpus.d33PpmiContexts(spark, sfTiny).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter($"rk" < 1 || $"rk" > Corpus.PpmiTopPerWord).count() == 0)
      assert(out.filter($"ppmi" <= 0.0).count() == 0)
      // ranks are dense per focus word: max rk equals the row count
      assert(out.groupBy($"w")
        .agg(count(lit(1)).as("n"), max($"rk").as("mx"))
        .filter($"n" =!= $"mx").count() == 0)
      assert(out.collect().sameElements(Corpus.d33PpmiContexts(spark, sfTiny).collect()))
    } finally out.unpersist(blocking = false)
  }

  test("d36 zipf report: driver-side recount agrees, slopes negative on natural text") {
    import spark.implicits._
    val out = Corpus.d36ZipfReport(spark, sfTiny).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getDouble(5)))).toMap
    // full driver-side recount at sfTiny
    val counts = Tables.documents(spark, sfTiny)
      .select($"lang", $"text").collect()
      .flatMap(r => r.getString(1).toLowerCase.trim.split("\\s+")
        .filter(_.nonEmpty).map(w => (r.getString(0), w)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byLang = counts.groupBy(_._1._1)
    assert(out.keySet == byLang.keySet)
    byLang.foreach { case (lang, m) =>
      val (nTok, vocab, topTerm, topCnt, slope) = out(lang)
      assert(nTok == m.values.sum && vocab == m.size.toLong, s"$lang volumes")
      val ranked = m.toSeq.map { case ((_, w), c) => (w, c) }
        .sortBy { case (w, c) => (-c, w) }
      assert((topTerm, topCnt) == ranked.head, s"$lang top term")
      // slope from the same top-100 log-log points, plain double sums —
      // matches the decimal-moment form to well below the rounding grain
      val pts = ranked.take(Corpus.ZipfTop).zipWithIndex
        .map { case ((_, c), i) => (math.log((i + 1).toDouble), math.log(c.toDouble)) }
      val n = pts.size.toDouble
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(slope - want) < 1e-6, s"$lang slope $slope vs $want")
      assert(slope < 0.0, s"$lang rank-frequency slope must be negative")
    }
  }

  test("ml09 calibration on a hand-planted score set: buckets, rates, ECE exact") {
    import spark.implicits._
    val scored = Seq((1, 0.85), (0, 0.85), (1, 0.62), (0, 0.15), (0, 0.18))
      .toDF("label", "score")
    val got = Corpus.calibration(scored).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    // bucket 8: n=2 mean .85 obs .5 gap .35 | 6: n=1 .62 1.0 .38 |
    // 1: n=2 mean (.15+.18)/2=.165 obs 0 gap .165
    // total: mean (1.7+.62+.33)/5=.53, obs 2/5=.4, ECE (.7+.38+.33)/5=.282
    assert(got == Map(
      -1L -> ((5L, 0.53, 0.4, 0.282)),
      1L -> ((2L, 0.165, 0.0, 0.165)),
      6L -> ((1L, 0.62, 1.0, 0.38)),
      8L -> ((2L, 0.85, 0.5, 0.35))), s"got $got")
  }

  test("ml35 Hosmer-Lemeshow: perfect calibration scores 0, a miscalibrated bucket hand-checks") {
    import spark.implicits._
    // PERFECTLY calibrated: each bucket's positive count equals n * p̄
    // exactly — every term is 0, so HL = 0 with df = g − 2
    val perfect = (
      (1 to 10).map(i => (if (i <= 2) 1 else 0, 0.2)) ++   // n=10 p̄=.2 pos=2
      (1 to 10).map(i => (if (i <= 7) 1 else 0, 0.7))      // n=10 p̄=.7 pos=7
    ).toDF("label", "score")
    val p = Corpus.hosmerLemeshow(perfect).collect()(0)
    assert(p.getLong(0) == 2L && p.getLong(1) == 20L &&
      p.getDouble(2) == 0.0 && p.getLong(3) == 0L, p.toString)
    // MISCALIBRATED: bucket p̄=.2 with 8/10 positives →
    // (8 − 2)² / (10·.2·.8) = 36 / 1.6 = 22.5
    val bad = (1 to 10).map(i => (if (i <= 8) 1 else 0, 0.2))
      .toDF("label", "score")
    val b = Corpus.hosmerLemeshow(bad).collect()(0)
    assert(b.getLong(0) == 1L && b.getDouble(2) == 22.5, b.toString)
    // degenerate buckets (p̄ rounded to 0 or 1) are excluded, never NaN:
    // with every bucket degenerate the statistic is NULL, not a crash
    val degen = Seq((1, 0.0), (0, 0.0), (1, 1.0)).toDF("label", "score")
    val d = Corpus.hosmerLemeshow(degen).collect()(0)
    assert(d.getLong(0) == 0L && d.isNullAt(2), d.toString)
  }

  test("ml09 on the corpus: buckets partition the docs, ECE row consistent") {
    import spark.implicits._
    val out = Corpus.ml09Calibration(spark, sfTiny).collect()
    val tot = out.find(_.getLong(0) == -1L).get
    val per = out.filter(_.getLong(0) >= 0L)
    assert(tot.getAs[Long]("n") ==
      Tables.documents(spark, sfTiny).count())
    assert(per.map(_.getAs[Long]("n")).sum == tot.getAs[Long]("n"))
    out.foreach { r =>
      Seq("mean_score", "obs_rate", "gap").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"bucket ${r.getLong(0)} $c=$v") }
      // every bucket's mean prediction lies inside the bucket's range
      val b = r.getLong(0)
      if (b >= 0)
        assert(r.getAs[Double]("mean_score") >= b / 10.0 - 1e-9 &&
          r.getAs[Double]("mean_score") <= (b + 1) / 10.0 + 1e-9)
    }
  }

  test("ml07 kNN hand-check: neighbor votes, majority, and OOV drop on a planted corpus") {
    import spark.implicits._
    // disjoint vocabularies per lang → candidates only ever come from the
    // test doc's own lang; vote counts are the train-doc counts
    val train = Seq(
      (1L, "aa", "cat cat dog"), (2L, "aa", "dog cat"), (3L, "aa", "cat bird"),
      (4L, "bb", "fish whale shark"), (5L, "bb", "shark fish"),
      (6L, "cc", "oak pine elm"), (7L, "cc", "elm oak"))
      .toDF("doc_id", "lang", "text")
    val test = Seq(
      (10L, "aa", "cat dog"), (11L, "bb", "whale shark fish"),
      (12L, "cc", "pine oak"),
      // OOV-only: no shared token with any train doc → inner join drops it
      (13L, "aa", "zebra quagga"))
      .toDF("doc_id", "lang", "text")
    val rows = Corpus.knnClassify(train, test, 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("pred_lang"), r.getAs[Long]("votes"),
          r.getAs[Int]("correct")))).toMap
    // votes = number of same-lang train docs sharing ≥1 token (all within k=5)
    assert(rows == Map(
      10L -> (("aa", 3L, 1)), 11L -> (("bb", 2L, 1)), 12L -> (("cc", 2L, 1))),
      s"got $rows")
  }

  test("ml07 on the corpus: one row per scored test doc, votes bounded, flags consistent") {
    import spark.implicits._
    val out = Corpus.ml07KnnClassify(spark, sfTiny).cache()
    try {
      assert(out.count() > 0 && out.count() <= Corpus.KnnBudget)
      assert(out.select($"doc_id").distinct().count() == out.count())
      // scored docs are test-split members (shared h60 split expression)
      val sp = graft.operators.Advanced.s03HashSplit(spark, sfTiny)
      val testIds = sp.filter($"split" === "test").select($"doc_id")
      assert(out.join(testIds, Seq("doc_id"), "left_anti").count() == 0)
      // votes ∈ [1, K]; predicted langs come from the train split
      assert(out.filter($"votes" < 1 || $"votes" > Corpus.KnnK).count() == 0)
      val trainLangs = sp.filter($"split" === "train").select($"lang").distinct()
        .collect().map(_.getString(0)).toSet
      assert(out.select($"pred_lang").distinct().collect()
        .map(_.getString(0)).toSet.subsetOf(trainLangs))
      assert(out.filter(($"lang" === $"pred_lang").cast("int") =!= $"correct").count() == 0)
    } finally out.unpersist(blocking = false)
  }

  test("ml31 target encoding: driver-side out-of-fold recompute agrees exactly") {
    import spark.implicits._
    val data = (1 to 30).map(i =>
      (i.toLong, if (i <= 15) "A" else "B", if (i % 3 == 0) 1L else 0L))
    val rows = data.toDF("doc_id", "source", "y")
    val got = operators.Corpus.targetEncoding(rows).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getAs[Double]("enc"),
          r.getAs[Double]("enc_naive")))).toMap
    // recompute with the SAME fold assignment (one pass through h60)
    val folds = rows
      .withColumn("fold", operators.DedupLsh.h60($"doc_id".cast("string")) % 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nG = folds.length.toLong
    val yG = folds.map(_._3).sum
    for (((src, f), (nSf, nOut, enc, encNaive)) <- got) {
      val cell = folds.filter(d => d._2 == src && d._4 == f)
      val inSrc = folds.filter(_._2 == src)
      val inFold = folds.filter(_._4 == f)
      assert(nSf == cell.length.toLong, s"($src,$f) n_sf")
      assert(nOut == (inSrc.length - cell.length).toLong, s"($src,$f) n_out")
      val prior = (yG - inFold.map(_._3).sum).toDouble / (nG - inFold.length).toDouble
      val expEnc = operators.Num.rD(
        ((inSrc.map(_._3).sum - cell.map(_._3).sum).toDouble + 10.0 * prior) /
          ((inSrc.length - cell.length) + 10).toDouble, 6)
      assert(enc == expEnc, s"($src,$f): $enc vs $expEnc")
      val expNaive = operators.Num.rD(
        inSrc.map(_._3).sum.toDouble / inSrc.length.toDouble, 6)
      assert(encNaive == expNaive, s"($src,$f) naive")
    }
    // every (source, fold) cell present
    assert(got.keySet == folds.map(d => (d._2, d._4)).toSet)
  }

  test("ml31 on testdata: encodings bounded, out-of-fold differs from naive somewhere") {
    val rows = operators.Corpus.ml31TargetEncoding(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (e, en) = (r.getAs[Double]("enc"), r.getAs[Double]("enc_naive"))
      assert(e >= 0.0 && e <= 1.0 && en >= 0.0 && en <= 1.0, r.toString)
    }
    // the leakage-free column is not just the naive mean re-printed
    assert(rows.exists(r =>
      r.getAs[Double]("enc") != r.getAs[Double]("enc_naive")))
  }

  test("ml37: Fleiss kappa — hand-computed panel and both degeneracies") {
    import spark.implicits._
    import graft.operators.Corpus
    // items (a,a,b) and (a,a,a): S2 = (4+1) + 9 = 14, C_a = 5, C_b = 1,
    // P-bar = (14-6)/12 = 2/3, P-exp = 26/36 = 13/18, kappa = -1/5
    val r = Corpus.fleissKappa(
      Seq((1L, "a", "a", "b"), (2L, "a", "a", "a"))
        .toDF("doc_id", "pa", "pb", "pc")).collect()(0)
    assert(r.getAs[Long]("n_docs") == 2L && r.getAs[Long]("n_categories") == 2L)
    assert(r.getAs[Long]("s2") == 14L && r.getAs[Long]("ck2") == 26L)
    assert(math.abs(r.getAs[Double]("kappa") + 0.2) < 1e-9, r.toString)
    // all-agree over MULTIPLE categories: kappa = 1 through the formula
    val p = Corpus.fleissKappa(
      Seq((1L, "a", "a", "a"), (2L, "b", "b", "b"))
        .toDF("doc_id", "pa", "pb", "pc")).collect()(0)
    assert(p.getAs[Double]("kappa") == 1.0, p.toString)
    // a SINGLE category (P-exp = 1) takes the convention branch, not NaN
    val sc = Corpus.fleissKappa(
      Seq((1L, "a", "a", "a")).toDF("doc_id", "pa", "pb", "pc")).collect()(0)
    assert(sc.getAs[Double]("kappa") == 1.0, sc.toString)
    // pure chance: every item maximally split has P-bar = 0
    val ch = Corpus.fleissKappa(
      Seq((1L, "a", "b", "c"), (2L, "a", "b", "c"))
        .toDF("doc_id", "pa", "pb", "pc")).collect()(0)
    assert(ch.getAs[Double]("p_bar") == 0.0 &&
      ch.getAs[Double]("kappa") < 0, ch.toString)
  }

  test("ml39: paired bootstrap — constant-panel collapse, sign, replicate count") {
    import spark.implicits._
    import graft.operators.Corpus
    // classifier 1 always right, classifier 2 always wrong: every
    // replicate's weighted mean difference is exactly 1 → CI collapses
    val up = Corpus.pairedBootstrap(
      (1L to 40L).map(i => (i, 1L)).toDF("doc_id", "d")).collect()(0)
    assert(up.getAs[Long]("n_docs") == 40L && up.getAs[Long]("n_reps") == 32L)
    assert(up.getAs[Double]("delta_obs") == 1.0 &&
      up.getAs[Double]("boot_lo") == 1.0 &&
      up.getAs[Double]("boot_hi") == 1.0, up.toString)
    // identical classifiers: delta and both CI ends are exactly 0
    val z = Corpus.pairedBootstrap(
      (1L to 40L).map(i => (i, 0L)).toDF("doc_id", "d")).collect()(0)
    assert(z.getAs[Double]("delta_obs") == 0.0 &&
      z.getAs[Double]("boot_lo") == 0.0 &&
      z.getAs[Double]("boot_hi") == 0.0, z.toString)
    // the worse-classifier direction carries its sign through
    val dn = Corpus.pairedBootstrap(
      (1L to 40L).map(i => (i, -1L)).toDF("doc_id", "d")).collect()(0)
    assert(dn.getAs[Double]("delta_obs") == -1.0 &&
      dn.getAs[Double]("boot_hi") == -1.0, dn.toString)
  }

  test("ml38: Krippendorff alpha — hand panels, degeneracies, alpha > kappa law") {
    import spark.implicits._
    import graft.operators.Corpus
    // ml37's panel (a,a,b)+(a,a,a): s2 = 14, ck2 = 26, n = 6 values →
    // D_o = (18-14)/12 = 1/3, D_e = (36-26)/30 = 1/3 → alpha = 0 exactly
    // (and Fleiss kappa on the same panel is -0.2: alpha > kappa at
    // finite n, the without-replacement correction)
    val r = Corpus.krippendorffAlpha(
      Seq((1L, "a", "a", "b"), (2L, "a", "a", "a"))
        .toDF("doc_id", "pa", "pb", "pc")).collect()(0)
    assert(r.getAs[Long]("s2") == 14L && r.getAs[Long]("ck2") == 26L)
    assert(r.getAs[Double]("alpha") == 0.0, r.toString)
    // mirrored disagreement (a,a,b)+(b,b,a): D_o = 2/3, D_e = 18/30 →
    // alpha = 1 - (2/3)/(3/5) = -1/9
    val m = Corpus.krippendorffAlpha(
      Seq((1L, "a", "a", "b"), (2L, "b", "b", "a"))
        .toDF("doc_id", "pa", "pb", "pc")).collect()(0)
    assert(math.abs(m.getAs[Double]("alpha") + 1.0 / 9.0) < 1e-6, m.toString)
    // perfect agreement over multiple categories: alpha = 1 via the formula
    val p = Corpus.krippendorffAlpha(
      Seq((1L, "a", "a", "a"), (2L, "b", "b", "b"))
        .toDF("doc_id", "pa", "pb", "pc")).collect()(0)
    assert(p.getAs[Double]("d_obs") == 0.0 &&
      p.getAs[Double]("alpha") == 1.0, p.toString)
    // single category (D_e = 0) takes the convention branch, not NaN
    val sc = Corpus.krippendorffAlpha(
      Seq((1L, "a", "a", "a")).toDF("doc_id", "pa", "pb", "pc")).collect()(0)
    assert(sc.getAs[Double]("alpha") == 1.0, sc.toString)
  }

  test("ml05 train total on an empty train split is 0, and scoring yields no rows") {
    import spark.implicits._
    val pri = Seq.empty[(String, Long)].toDF("lang", "dl")
    assert(Corpus.trainTotal(pri).collect().map(_.getLong(0)).toSeq == Seq(0L),
      "an empty split must total 0, not NULL")
    val docs = Seq((1L, "aa", "cat dog")).toDF("doc_id", "lang", "text")
    assert(Corpus.naiveBayes(docs.limit(0), docs).count() == 0L)
  }
}
