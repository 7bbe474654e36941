package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DedupLsh, Num, Telemetry}
import Num._

/** The reference's ML path (SURVEY.md §2.3 M1–M4) as an MLlib pipeline:
  *
  *   - M1 feature assembly (`realtime_inference.py:68-78`) →
  *     VectorAssembler over {temperature, vibration};
  *   - M2 RandomForest training (`README.md:102-108`, sklearn
  *     RandomForestClassifier on 10k rows, target `is_anomaly`) →
  *     RandomForestClassifier, fixed seed;
  *   - M3 train/test split + precision/recall evaluation
  *     (`README.md:106-108`: 1.00/1.00 on the separable dataset);
  *   - M4 per-record scoring (`realtime_inference.py:117-123`) →
  *     `model.transform` — total function, so the reference's
  *     predict-failure drop hazard disappears by construction.
  *
  * Training data is the deterministic generator twin ([[Telemetry.twin]]).
  * The data is linearly separable (threshold rule temp≥80 ∧ vib≥3, M5), so
  * the trained forest must agree with the rule on every record — that
  * equivalence is the golden test (MaintenanceSpec), replacing a DuckDB
  * oracle (MLlib is not SQL-expressible; Verify records rows-only).
  *
  * Scale: `transform` broadcasts the (tiny) model to executors; scoring is
  * scan-local and embarrassingly parallel. Training at 100 TB would sample
  * or use gradient-boosted alternatives; the pipeline shape is unchanged.
  */
object Maintenance {

  val FeatureCols: Array[String] = Array("temperature", "vibration")

  def buildPipeline(numTrees: Int = 20, seed: Long = 42L): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(FeatureCols).setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setLabelCol("is_anomaly").setFeaturesCol("features")
      .setNumTrees(numTrees).setSeed(seed)
    new Pipeline().setStages(Array(assembler, rf))
  }

  def train(s: SparkSession): PipelineModel =
    buildPipeline().fit(Telemetry.twin(s))

  /** Held-out evaluation reproducing README.md:106-108. */
  def evaluate(s: SparkSession): (Double, Double) = {
    val Array(tr, te) = Telemetry.twin(s).randomSplit(Array(0.8, 0.2), seed = 42L)
    val model = buildPipeline().fit(tr)
    val scored = model.transform(te)
    def metricOf(m: String): Double = new MulticlassClassificationEvaluator()
      .setLabelCol("is_anomaly").setPredictionCol("prediction")
      .setMetricName(m).setMetricLabel(1.0).evaluate(scored)
    (metricOf("precisionByLabel"), metricOf("recallByLabel"))
  }

  /** ml01 — train-and-score the full twin; emit per-record prediction next
    * to the threshold-rule twin for drift inspection. Deterministic (fixed
    * seed); no oracle → rows-only + MaintenanceSpec. */
  def ml01RfScoring(s: SparkSession, dir: String): DataFrame = {
    val scored = train(s).transform(Telemetry.twin(s))
    scored.select(
      col("id"), col("is_anomaly"),
      col("prediction").cast("int").as("rf_prediction"),
      ((col("temperature") >= 80.0) && (col("vibration") >= 3.0)).cast("int")
        .as("rule_prediction"))
      .orderBy(col("id"))
  }

  /** ml02 — the same M1–M4 pipeline shape with a calibrated linear model:
    * logistic regression over {temperature, vibration}, emitting the
    * anomaly probability next to the hard prediction. On the separable
    * twin the decision boundary must agree with the threshold rule
    * (MaintenanceSpec pins ≥ 99.9% agreement + probability bounds).
    * Scoring is a broadcast model + scan-local transform — same 100 TB
    * story as ml01; no oracle (MLlib) → rows-only + spec. */
  def ml02LrScoring(s: SparkSession, dir: String): DataFrame = {
    val assembler = new VectorAssembler()
      .setInputCols(FeatureCols).setOutputCol("features")
    // 25 iterations: on the separable twin LBFGS fixes the decision
    // boundary within ~10 rounds and then only inflates the margin; 100
    // iters spent 2× the query's wall time buying nothing the spec
    // (≥ 99.9 % rule agreement + calibration bounds) can see
    val lr = new LogisticRegression()
      .setLabelCol("is_anomaly").setFeaturesCol("features")
      .setMaxIter(25)
    val model = new Pipeline().setStages(Array(assembler, lr))
      .fit(Telemetry.twin(s))
    model.transform(Telemetry.twin(s))
      .select(col("id"), col("is_anomaly"),
        col("prediction").cast("int").as("lr_prediction"),
        vector_to_array(col("probability")).getItem(1).as("p_anomaly"))
      .orderBy(col("id"))
  }

  // --- ml03: closed-form training as ONE distributed aggregation pass ----

  /** Cramer's-rule solution of the 3×3 normal equations A·[b,w1,w2]ᵀ = r
    * over the moment columns (nn, s1, s2, s11, s12, s22, sy, s1y, s2y).
    * Shared string templates: the Spark side evaluates them via `expr` and
    * the DuckDB oracle inlines the same text, so the IEEE evaluation order
    * is identical character for character (the determinism the oracle hash
    * needs — see Num.scala). */
  private val detS =
    "(nn*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
  private val detBS =
    "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y))"
  private val detW1S =
    "(nn*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))"
  private val detW2S =
    "(nn*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))"

  /** ml03 — the 100 TB training story made explicit: a linear-probability
    * classifier over {temperature, vibration} fit by the normal equations,
    * i.e. training IS one map-side-combinable aggregation (9 decimal
    * moments) + O(1) driver-free algebra — no iterations, no MLlib, no
    * collect. Scoring is the same broadcast-weights + scan-local transform
    * shape as ml01/ml02. Every step is order-independent decimal or
    * fixed-order IEEE arithmetic → fully oracle-checked (the first ML
    * entry the DuckDB differential can verify end to end: a training-code
    * bug now fails the hash, not just an accuracy spec). */
  def ml03LsqScoring(s: SparkSession, dir: String): DataFrame = {
    val t = Telemetry.twin(s).select(
      col("id"), col("is_anomaly"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    val mom = t.agg(
      count(lit(1)).cast("double").as("nn"),
      dsum(col("x1")).as("s1"),
      dsum(col("x2")).as("s2"),
      dsum(col("x1") * col("x1")).as("s11"),
      dsum(col("x1") * col("x2")).as("s12"),
      dsum(col("x2") * col("x2")).as("s22"),
      dsum(col("is_anomaly").cast("double")).as("sy"),
      dsum(col("x1") * col("is_anomaly")).as("s1y"),
      dsum(col("x2") * col("is_anomaly")).as("s2y"))
    val wts = mom.select(
      expr(s"$detBS / $detS").as("b"),
      expr(s"$detW1S / $detS").as("w1"),
      expr(s"$detW2S / $detS").as("w2"))
    t.crossJoin(broadcast(wts))
      .select(col("id"), col("is_anomaly"),
        r(expr("b + w1 * x1 + w2 * x2"), 6).as("score"))
      .withColumn("lsq_prediction", (col("score") >= 0.5).cast("int"))
      .orderBy(col("id"))
  }

  val ml03Sql: String =
    s"""WITH t AS (SELECT id, is_anomaly, temperature AS x1, vibration AS x2
         FROM (${Telemetry.twinSql})),
       mom AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
         ${dsumSql("x1")} AS s1, ${dsumSql("x2")} AS s2,
         ${dsumSql("x1 * x1")} AS s11, ${dsumSql("x1 * x2")} AS s12,
         ${dsumSql("x2 * x2")} AS s22,
         ${dsumSql("CAST(is_anomaly AS DOUBLE)")} AS sy,
         ${dsumSql("x1 * is_anomaly")} AS s1y, ${dsumSql("x2 * is_anomaly")} AS s2y
         FROM t),
       wts AS (SELECT $detBS / $detS AS b, $detW1S / $detS AS w1,
         $detW2S / $detS AS w2 FROM mom),
       sc AS (SELECT id, is_anomaly, ${rSql("b + w1 * x1 + w2 * x2", 6)} AS score
         FROM t, wts)
       SELECT id, is_anomaly, score,
         CAST(score >= 0.5 AS INTEGER) AS lsq_prediction
       FROM sc ORDER BY id"""

  // --- ml30: linear attribution (exact SHAP for the LSQ model) -----------

  /** ml30 — per-feature attribution of ml03's linear model. For a linear
    * model with intercept fit by least squares, the Shapley decomposition
    * is EXACT and closed-form (the "linear SHAP" special case):
    * score(x) = ȳ + Σ_j w_j·(x_j − μ_j), so feature j's contribution to a
    * prediction is c_j = w_j·(x_j − μ_j) and its global importance is
    * E|c_j| = |w_j|·E|x_j − μ_j| — no sampling, no surrogate model.
    * Reports per feature: the fitted weight, mean |contribution|, and the
    * importance share — the "which sensor drives the anomaly score"
    * number a maintenance team acts on.
    *
    * Two aggregation passes over the generated twin (moments → weights/
    * means, then mean absolute deviations against the broadcast means);
    * all moments decimal-exact, weights through the SAME Cramer text as
    * ml03 (character-identical IEEE), |x−μ| a fixed-order IEEE op —
    * fully oracle-checked. Scale: two map-side-combinable scans + 1-row
    * broadcasts, linear at any corpus size. */
  def ml30LinearAttribution(s: SparkSession, dir: String): DataFrame = {
    val t = Telemetry.twin(s).select(
      col("id"), col("is_anomaly"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    val mom = t.agg(
      count(lit(1)).cast("double").as("nn"),
      dsum(col("x1")).as("s1"),
      dsum(col("x2")).as("s2"),
      dsum(col("x1") * col("x1")).as("s11"),
      dsum(col("x1") * col("x2")).as("s12"),
      dsum(col("x2") * col("x2")).as("s22"),
      dsum(col("is_anomaly").cast("double")).as("sy"),
      dsum(col("x1") * col("is_anomaly")).as("s1y"),
      dsum(col("x2") * col("is_anomaly")).as("s2y"))
    val wts = mom.select(
      expr(s"$detW1S / $detS").as("w1"),
      expr(s"$detW2S / $detS").as("w2"),
      expr("s1 / nn").as("mu1"),
      expr("s2 / nn").as("mu2"))
    val sad = t.crossJoin(broadcast(wts))
      .agg(count(lit(1)).cast("double").as("nn2"),
        dsum(abs(col("x1") - col("mu1"))).as("sad1"),
        dsum(abs(col("x2") - col("mu2"))).as("sad2"),
        first(col("w1")).as("w1"), first(col("w2")).as("w2"))
      .select(r(col("w1"), 6).as("w1r"), r(col("w2"), 6).as("w2r"),
        r(abs(col("w1")) * (col("sad1") / col("nn2")), 6).as("ma1"),
        r(abs(col("w2")) * (col("sad2") / col("nn2")), 6).as("ma2"))
    val f1 = sad.select(lit("temperature").as("feature"), col("w1r").as("weight"),
      col("ma1").as("mean_abs_contrib"),
      r(col("ma1") / (col("ma1") + col("ma2")), 6).as("share"))
    val f2 = sad.select(lit("vibration").as("feature"), col("w2r").as("weight"),
      col("ma2").as("mean_abs_contrib"),
      r(col("ma2") / (col("ma1") + col("ma2")), 6).as("share"))
    f1.union(f2).orderBy(col("feature"))
  }

  val ml30Sql: String =
    s"""WITH t AS (SELECT id, is_anomaly, temperature AS x1, vibration AS x2
         FROM (${Telemetry.twinSql})),
       mom AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
         ${dsumSql("x1")} AS s1, ${dsumSql("x2")} AS s2,
         ${dsumSql("x1 * x1")} AS s11, ${dsumSql("x1 * x2")} AS s12,
         ${dsumSql("x2 * x2")} AS s22,
         ${dsumSql("CAST(is_anomaly AS DOUBLE)")} AS sy,
         ${dsumSql("x1 * is_anomaly")} AS s1y, ${dsumSql("x2 * is_anomaly")} AS s2y
         FROM t),
       wts AS (SELECT $detW1S / $detS AS w1, $detW2S / $detS AS w2,
         s1 / nn AS mu1, s2 / nn AS mu2 FROM mom),
       sad AS (SELECT CAST(count(*) AS DOUBLE) AS nn2,
           ${dsumSql("abs(x1 - mu1)")} AS sad1,
           ${dsumSql("abs(x2 - mu2)")} AS sad2,
           first(w1) AS w1, first(w2) AS w2
         FROM t, wts),
       ma AS (SELECT ${rSql("w1", 6)} AS w1r, ${rSql("w2", 6)} AS w2r,
           ${rSql("abs(w1) * (sad1 / nn2)", 6)} AS ma1,
           ${rSql("abs(w2) * (sad2 / nn2)", 6)} AS ma2
         FROM sad)
       SELECT feature, weight, mean_abs_contrib, share FROM (
         SELECT 'temperature' AS feature, w1r AS weight,
           ma1 AS mean_abs_contrib, ${rSql("ma1 / (ma1 + ma2)", 6)} AS share
         FROM ma
         UNION ALL
         SELECT 'vibration', w2r, ma2, ${rSql("ma2 / (ma1 + ma2)", 6)} FROM ma) z
       ORDER BY feature"""

  // --- ml04: iterative training as unrolled aggregation passes ----------

  private[graft] val GdIters = 3

  /** Rational ("fast") sigmoid 0.5 + z/(2(1+|z|)) — same monotone S-shape
    * as the logistic link but pure IEEE arithmetic (no libm exp), so the
    * per-row probabilities are bit-identical across engines. Shared text,
    * evaluated via expr() in Spark and inlined in the oracle. */
  private val pExpr =
    "0.5 + 0.5 * (b + w1 * z1 + w2 * z2) / (1.0 + abs(b + w1 * z1 + w2 * z2))"

  /** Standardization moments → (mu, sd) per feature; sqrt is IEEE
    * correctly-rounded (not libm), so the z-scores mirror exactly. */
  private val mu1S = "(s1 / nn)"; private val sd1S = s"sqrt(s11 / nn - $mu1S * $mu1S)"
  private val mu2S = "(s2 / nn)"; private val sd2S = s"sqrt(s22 / nn - $mu2S * $mu2S)"

  /** ml04 — the ITERATIVE half of the training story (ml03 is the
    * closed-form half): full-batch gradient descent on a quasi-logistic
    * model over standardized {temperature, vibration}, [[GdIters]] unrolled
    * steps, learning rate 1. Each step is exactly one distributed
    * aggregation (three decimal-exact gradient means over the scored
    * corpus) plus an O(1) broadcast weight update — the map-side-combinable
    * shape full-batch GD has on a cluster, with no driver-side math beyond
    * the 1-row weight table. Every arithmetic step is order-independent
    * decimal or fixed-order IEEE → the whole training LOOP mirrors in
    * unrolled CTEs and is hash-checked (like e10's k-means, a place where
    * a subtle update-rule bug would otherwise hide behind an accuracy
    * spec). */
  def ml04GdScoring(s: SparkSession, dir: String): DataFrame = {
    val t = Telemetry.twin(s).select(
      col("id"), col("is_anomaly"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    val st = t.agg(
      count(lit(1)).cast("double").as("nn"),
      dsum(col("x1")).as("s1"), dsum(col("x1") * col("x1")).as("s11"),
      dsum(col("x2")).as("s2"), dsum(col("x2") * col("x2")).as("s22"))
      .select(expr(mu1S).as("mu1"), expr(sd1S).as("sd1"),
        expr(mu2S).as("mu2"), expr(sd2S).as("sd2"))
    // cached: the z-scored corpus feeds every GD step plus the final
    // scoring pass (CLAUDE.md invariant 5)
    val z = t.crossJoin(broadcast(st))
      .select(col("id"), col("is_anomaly"),
        expr("(x1 - mu1) / sd1").as("z1"), expr("(x2 - mu2) / sd2").as("z2"))
      .cache()
    val w0 = s.range(1).select(
      lit(0.0).as("b"), lit(0.0).as("w1"), lit(0.0).as("w2"))
    def step(w: DataFrame): DataFrame =
      z.crossJoin(broadcast(w))
        .withColumn("p", expr(pExpr))
        .agg(
          (min(col("b")) + davg(expr("(is_anomaly - p)"))).as("b"),
          (min(col("w1")) + davg(expr("(is_anomaly - p) * z1"))).as("w1"),
          (min(col("w2")) + davg(expr("(is_anomaly - p) * z2"))).as("w2"))
    val wT = (1 to GdIters).foldLeft(w0)((w, _) => step(w))
    z.crossJoin(broadcast(wT))
      .select(col("id"), col("is_anomaly"), r(expr(pExpr), 6).as("score"))
      .withColumn("gd_prediction", (col("score") >= 0.5).cast("int"))
      .orderBy(col("id"))
  }

  val ml04Sql: String = {
    val steps = (1 to GdIters).map { i =>
      s"""p$i AS (SELECT is_anomaly, z1, z2, b, w1, w2, $pExpr AS p
           FROM z CROSS JOIN w${i - 1}),
         w$i AS (SELECT min(b) + ${davgSql("(is_anomaly - p)")} AS b,
           min(w1) + ${davgSql("(is_anomaly - p) * z1")} AS w1,
           min(w2) + ${davgSql("(is_anomaly - p) * z2")} AS w2 FROM p$i)"""
    }.mkString(",\n       ")
    s"""WITH t AS (SELECT id, is_anomaly, temperature AS x1, vibration AS x2
         FROM (${Telemetry.twinSql})),
       mom AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
         ${dsumSql("x1")} AS s1, ${dsumSql("x1 * x1")} AS s11,
         ${dsumSql("x2")} AS s2, ${dsumSql("x2 * x2")} AS s22 FROM t),
       st AS (SELECT $mu1S AS mu1, $sd1S AS sd1, $mu2S AS mu2, $sd2S AS sd2
         FROM mom),
       z AS (SELECT id, is_anomaly, (x1 - mu1) / sd1 AS z1,
         (x2 - mu2) / sd2 AS z2 FROM t CROSS JOIN st),
       w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS w1,
         CAST(0.0 AS DOUBLE) AS w2),
       $steps,
       sc AS (SELECT id, is_anomaly, ${rSql(pExpr, 6)} AS score
         FROM z CROSS JOIN w$GdIters)
       SELECT id, is_anomaly, score,
         CAST(score >= 0.5 AS INTEGER) AS gd_prediction
       FROM sc ORDER BY id"""
  }

  // --- ml11: k-fold cross-validation as ONE grouped aggregation pass ----

  private[graft] val CvFolds = 4L

  /** ml11 — k-fold cross-validation of the ml03 closed-form model, the
    * distributed generalization of the reference's single train/test split
    * (`README.md:106-108`, M3). The trick that makes CV one pass instead of
    * k passes: the 9 normal-equation moments are additive, so ONE
    * `groupBy(fold)` aggregation yields per-fold moments, and each fold's
    * leave-one-fold-out training moments are `total − fold` — computed in
    * exact decimal(38,10) so the subtraction is order-independent and the
    * k solved models mirror bit-for-bit in the oracle. Scoring joins the
    * k-row broadcast weight table back on `fold`, so every held-out record
    * is scored by the model that never saw it; the report is a k-row
    * accuracy/RMSE table. At 100 TB this is still exactly one wide
    * aggregation + one broadcast join — CV costs the same as a single fit. */
  def ml11KfoldCv(s: SparkSession, dir: String): DataFrame = {
    val t = Telemetry.twin(s).select(
      col("id"), (col("id") % lit(CvFolds)).as("fold"),
      col("is_anomaly"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    // decimal moments kept IN decimal until after the leave-one-out
    // subtraction (a double roundtrip per fold would re-order additions)
    def dmom(c: Column): Column = sum(c.cast("decimal(38,10)"))
    val fm = t.groupBy(col("fold")).agg(
      count(lit(1)).as("fn"),
      dmom(col("x1")).as("f1"), dmom(col("x2")).as("f2"),
      dmom(col("x1") * col("x1")).as("f11"),
      dmom(col("x1") * col("x2")).as("f12"),
      dmom(col("x2") * col("x2")).as("f22"),
      dmom(col("is_anomaly").cast("double")).as("fy"),
      dmom(col("x1") * col("is_anomaly")).as("f1y"),
      dmom(col("x2") * col("is_anomaly")).as("f2y"))
    val tot = fm.agg(
      sum(col("fn")).as("tn"),
      sum(col("f1")).as("t1"), sum(col("f2")).as("t2"),
      sum(col("f11")).as("t11"), sum(col("f12")).as("t12"),
      sum(col("f22")).as("t22"), sum(col("fy")).as("ty"),
      sum(col("f1y")).as("t1y"), sum(col("f2y")).as("t2y"))
    val tm = fm.crossJoin(broadcast(tot)).select(
      col("fold"),
      (col("tn") - col("fn")).as("n_train"),
      (col("tn") - col("fn")).cast("double").as("nn"),
      (col("t1") - col("f1")).cast("double").as("s1"),
      (col("t2") - col("f2")).cast("double").as("s2"),
      (col("t11") - col("f11")).cast("double").as("s11"),
      (col("t12") - col("f12")).cast("double").as("s12"),
      (col("t22") - col("f22")).cast("double").as("s22"),
      (col("ty") - col("fy")).cast("double").as("sy"),
      (col("t1y") - col("f1y")).cast("double").as("s1y"),
      (col("t2y") - col("f2y")).cast("double").as("s2y"))
    val wts = tm.select(col("fold"), col("n_train"),
      expr(s"$detBS / $detS").as("b"),
      expr(s"$detW1S / $detS").as("w1"),
      expr(s"$detW2S / $detS").as("w2"))
    val sc = t.join(broadcast(wts), Seq("fold"))
      .select(col("fold"), col("n_train"), col("is_anomaly"),
        col("b"), col("w1"), col("w2"),
        r(expr("b + w1 * x1 + w2 * x2"), 6).as("score"))
    val sqErr = (col("is_anomaly") - col("score")) * (col("is_anomaly") - col("score"))
    val hit = (col("score") >= 0.5).cast("int") === col("is_anomaly")
    sc.groupBy(col("fold")).agg(
      min(col("n_train")).as("n_train"),
      count(lit(1)).as("n_test"),
      r(min(col("b")), 6).as("b"),
      r(min(col("w1")), 6).as("w1"),
      r(min(col("w2")), 6).as("w2"),
      count(when(hit, 1)).as("n_correct"),
      r(count(when(hit, 1)).cast("double") / count(lit(1)), 6).as("accuracy"),
      r(sqrt(dsum(sqErr) / count(lit(1))), 6).as("rmse"))
      .orderBy(col("fold"))
  }

  val ml11Sql: String = {
    def dmomS(e: String): String = s"sum(CAST(($e) AS DECIMAL(38,10)))"
    val hitS = "CAST(score >= 0.5 AS INTEGER) = is_anomaly"
    s"""WITH t AS (SELECT id, id % $CvFolds AS fold, is_anomaly,
         temperature AS x1, vibration AS x2 FROM (${Telemetry.twinSql})),
       fm AS (SELECT fold, count(*) AS fn,
         ${dmomS("x1")} AS f1, ${dmomS("x2")} AS f2,
         ${dmomS("x1 * x1")} AS f11, ${dmomS("x1 * x2")} AS f12,
         ${dmomS("x2 * x2")} AS f22,
         ${dmomS("CAST(is_anomaly AS DOUBLE)")} AS fy,
         ${dmomS("x1 * is_anomaly")} AS f1y, ${dmomS("x2 * is_anomaly")} AS f2y
         FROM t GROUP BY fold),
       tot AS (SELECT CAST(sum(fn) AS BIGINT) AS tn,
         sum(f1) AS t1, sum(f2) AS t2, sum(f11) AS t11, sum(f12) AS t12,
         sum(f22) AS t22, sum(fy) AS ty, sum(f1y) AS t1y, sum(f2y) AS t2y
         FROM fm),
       tm AS (SELECT fold, tn - fn AS n_train,
         CAST(tn - fn AS DOUBLE) AS nn,
         CAST(t1 - f1 AS DOUBLE) AS s1, CAST(t2 - f2 AS DOUBLE) AS s2,
         CAST(t11 - f11 AS DOUBLE) AS s11, CAST(t12 - f12 AS DOUBLE) AS s12,
         CAST(t22 - f22 AS DOUBLE) AS s22, CAST(ty - fy AS DOUBLE) AS sy,
         CAST(t1y - f1y AS DOUBLE) AS s1y, CAST(t2y - f2y AS DOUBLE) AS s2y
         FROM fm CROSS JOIN tot),
       wts AS (SELECT fold, n_train, $detBS / $detS AS b,
         $detW1S / $detS AS w1, $detW2S / $detS AS w2 FROM tm),
       sc AS (SELECT t.fold AS fold, n_train, is_anomaly, b, w1, w2,
         ${rSql("b + w1 * x1 + w2 * x2", 6)} AS score
         FROM t JOIN wts ON t.fold = wts.fold)
       SELECT fold, min(n_train) AS n_train, count(*) AS n_test,
         ${rSql("min(b)", 6)} AS b, ${rSql("min(w1)", 6)} AS w1,
         ${rSql("min(w2)", 6)} AS w2,
         count(*) FILTER (WHERE $hitS) AS n_correct,
         ${rSql(s"CAST(count(*) FILTER (WHERE $hitS) AS DOUBLE) / count(*)", 6)} AS accuracy,
         ${rSql(s"sqrt(${dsumSql("(is_anomaly - score) * (is_anomaly - score)")} / count(*))", 6)} AS rmse
       FROM sc GROUP BY fold ORDER BY fold"""
  }

  // --- ml12: learning curve as cumulative moment algebra ------------------

  /** ml12 — the dataset-size ablation ("learning curve"): the ml03
    * closed-form model trained on growing prefixes of the corpus (h60
    * deciles 0..k for k = 0..8) and evaluated on the held-out decile 9 —
    * the scaling ablation every data-pipeline team runs before paying for
    * more data. The whole curve costs ONE grouped aggregation: per-decile
    * moments cumulate to prefix moments with a 10-row running window (the
    * moments are additive, ml11's trick in prefix form), each prefix row
    * solves its own normal equations, and the 9-row weight table
    * broadcasts against the fixed test decile. At 100 TB all 9 trainings
    * still cost one pass. */
  def ml12LearningCurve(s: SparkSession, dir: String): DataFrame = {
    val t = Telemetry.twin(s).select(
      col("id"), (DedupLsh.h60(col("id").cast("string")) % 10).as("h"),
      col("is_anomaly"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    def dmom(c: Column): Column = sum(c.cast("decimal(38,10)"))
    val dm = t.groupBy(col("h")).agg(
      count(lit(1)).as("fn"),
      dmom(col("x1")).as("f1"), dmom(col("x2")).as("f2"),
      dmom(col("x1") * col("x1")).as("f11"),
      dmom(col("x1") * col("x2")).as("f12"),
      dmom(col("x2") * col("x2")).as("f22"),
      dmom(col("is_anomaly").cast("double")).as("fy"),
      dmom(col("x1") * col("is_anomaly")).as("f1y"),
      dmom(col("x2") * col("is_anomaly")).as("f2y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("h"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    def cum(c: String, as: String): Column = sum(col(c)).over(w).as(as)
    val pm = dm.select(col("h"),
        cum("fn", "cn"), cum("f1", "c1"), cum("f2", "c2"), cum("f11", "c11"),
        cum("f12", "c12"), cum("f22", "c22"), cum("fy", "cy"),
        cum("f1y", "c1y"), cum("f2y", "c2y"))
      .filter(col("h") <= 8)
      .select(col("h").as("k"), col("cn").as("n_train"),
        col("cn").cast("double").as("nn"),
        col("c1").cast("double").as("s1"), col("c2").cast("double").as("s2"),
        col("c11").cast("double").as("s11"), col("c12").cast("double").as("s12"),
        col("c22").cast("double").as("s22"), col("cy").cast("double").as("sy"),
        col("c1y").cast("double").as("s1y"), col("c2y").cast("double").as("s2y"))
    val wts = pm.select(col("k"), col("n_train"),
      expr(s"$detBS / $detS").as("b"),
      expr(s"$detW1S / $detS").as("w1"),
      expr(s"$detW2S / $detS").as("w2"))
    val sqErr = (col("is_anomaly") - col("score")) * (col("is_anomaly") - col("score"))
    val hit = (col("score") >= 0.5).cast("int") === col("is_anomaly")
    t.filter(col("h") === 9)
      .crossJoin(broadcast(wts))
      .withColumn("score", r(expr("b + w1 * x1 + w2 * x2"), 6))
      .groupBy(col("k")).agg(
        min(col("n_train")).as("n_train"),
        count(lit(1)).as("n_test"),
        r(min(col("b")), 6).as("b"),
        r(min(col("w1")), 6).as("w1"),
        r(min(col("w2")), 6).as("w2"),
        r(count(when(hit, 1)).cast("double") / count(lit(1)), 6).as("accuracy"),
        r(sqrt(dsum(sqErr) / count(lit(1))), 6).as("rmse"))
      .orderBy(col("k"))
  }

  val ml12Sql: String = {
    def dmomS(e: String): String = s"sum(CAST(($e) AS DECIMAL(38,10)))"
    def cumS(c: String, as: String): String =
      s"sum($c) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS $as"
    val hitS = "CAST(score >= 0.5 AS INTEGER) = is_anomaly"
    s"""WITH t AS (SELECT id, ${DedupLsh.h60Sql("id::VARCHAR")} % 10 AS h,
         is_anomaly, temperature AS x1, vibration AS x2
       FROM (${Telemetry.twinSql})),
       dm AS (SELECT h, count(*) AS fn,
         ${dmomS("x1")} AS f1, ${dmomS("x2")} AS f2,
         ${dmomS("x1 * x1")} AS f11, ${dmomS("x1 * x2")} AS f12,
         ${dmomS("x2 * x2")} AS f22,
         ${dmomS("CAST(is_anomaly AS DOUBLE)")} AS fy,
         ${dmomS("x1 * is_anomaly")} AS f1y, ${dmomS("x2 * is_anomaly")} AS f2y
         FROM t GROUP BY h),
       pm0 AS (SELECT h, ${cumS("fn", "cn")}, ${cumS("f1", "c1")},
         ${cumS("f2", "c2")}, ${cumS("f11", "c11")}, ${cumS("f12", "c12")},
         ${cumS("f22", "c22")}, ${cumS("fy", "cy")}, ${cumS("f1y", "c1y")},
         ${cumS("f2y", "c2y")} FROM dm),
       pm AS (SELECT h AS k, CAST(cn AS BIGINT) AS n_train,
         CAST(cn AS DOUBLE) AS nn,
         CAST(c1 AS DOUBLE) AS s1, CAST(c2 AS DOUBLE) AS s2,
         CAST(c11 AS DOUBLE) AS s11, CAST(c12 AS DOUBLE) AS s12,
         CAST(c22 AS DOUBLE) AS s22, CAST(cy AS DOUBLE) AS sy,
         CAST(c1y AS DOUBLE) AS s1y, CAST(c2y AS DOUBLE) AS s2y
         FROM pm0 WHERE h <= 8),
       wts AS (SELECT k, n_train, $detBS / $detS AS b,
         $detW1S / $detS AS w1, $detW2S / $detS AS w2 FROM pm),
       sc AS (SELECT k, n_train, is_anomaly, b, w1, w2,
         ${rSql("b + w1 * x1 + w2 * x2", 6)} AS score
         FROM (SELECT * FROM t WHERE h = 9) te CROSS JOIN wts)
       SELECT k, min(n_train) AS n_train, count(*) AS n_test,
         ${rSql("min(b)", 6)} AS b, ${rSql("min(w1)", 6)} AS w1,
         ${rSql("min(w2)", 6)} AS w2,
         ${rSql(s"CAST(count(*) FILTER (WHERE $hitS) AS DOUBLE) / count(*)", 6)} AS accuracy,
         ${rSql(s"sqrt(${dsumSql("(is_anomaly - score) * (is_anomaly - score)")} / count(*))", 6)} AS rmse
       FROM sc GROUP BY k ORDER BY k"""
  }

  // --- ml29: walk-forward (time-ordered) validation -------------------------

  /** ml29 — walk-forward validation of the ml03 closed-form model: train
    * on the first k+1 TIME deciles of the telemetry stream, evaluate on
    * decile k+2 — the NEXT period, never a fixed future set (ml11/ml12
    * shuffle by hash, which silently assumes exchangeability; deployed
    * time-series models retrain on the past and score the immediate
    * future, and THIS estimate is the honest one under drift — s06's
    * temporal-split discipline applied to model evaluation). Time
    * deciles are exact integer prefix arithmetic on the generator id
    * stream (d40's rule); the whole 9-step curve still costs ONE grouped
    * aggregation via ml12's additive prefix moments, and each step's
    * test block joins its own weights row (k+1 = test decile).
    *
    * Scale shape: one scan → 10 decile moment rows → window prefix sums
    * → 9-row broadcast weights joined back per test decile. */
  def ml29WalkForward(s: SparkSession, dir: String): DataFrame = {
    val t = Telemetry.twin(s).select(
      col("id"),
      expr(s"(id * 10) div ${Telemetry.TwinRows}").as("td"),
      col("is_anomaly"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    def dmom(c: Column): Column = sum(c.cast("decimal(38,10)"))
    val dm = t.groupBy(col("td")).agg(
      count(lit(1)).as("fn"),
      dmom(col("x1")).as("f1"), dmom(col("x2")).as("f2"),
      dmom(col("x1") * col("x1")).as("f11"),
      dmom(col("x1") * col("x2")).as("f12"),
      dmom(col("x2") * col("x2")).as("f22"),
      dmom(col("is_anomaly").cast("double")).as("fy"),
      dmom(col("x1") * col("is_anomaly")).as("f1y"),
      dmom(col("x2") * col("is_anomaly")).as("f2y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("td"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    def cum(c: String, as: String): Column = sum(col(c)).over(w).as(as)
    val pm = dm.select(col("td"),
        cum("fn", "cn"), cum("f1", "c1"), cum("f2", "c2"), cum("f11", "c11"),
        cum("f12", "c12"), cum("f22", "c22"), cum("fy", "cy"),
        cum("f1y", "c1y"), cum("f2y", "c2y"))
      .filter(col("td") <= 8)
      .select(col("td").as("k"), col("cn").as("n_train"),
        col("cn").cast("double").as("nn"),
        col("c1").cast("double").as("s1"), col("c2").cast("double").as("s2"),
        col("c11").cast("double").as("s11"), col("c12").cast("double").as("s12"),
        col("c22").cast("double").as("s22"), col("cy").cast("double").as("sy"),
        col("c1y").cast("double").as("s1y"), col("c2y").cast("double").as("s2y"))
    val wts = pm.select(col("k"), col("n_train"),
      expr(s"$detBS / $detS").as("b"),
      expr(s"$detW1S / $detS").as("w1"),
      expr(s"$detW2S / $detS").as("w2"))
    val sqErr = (col("is_anomaly") - col("score")) * (col("is_anomaly") - col("score"))
    val hit = (col("score") >= 0.5).cast("int") === col("is_anomaly")
    t.join(broadcast(wts), t("td") === wts("k") + 1)
      .withColumn("score", r(expr("b + w1 * x1 + w2 * x2"), 6))
      .groupBy(col("k")).agg(
        min(col("n_train")).as("n_train"),
        count(lit(1)).as("n_test"),
        r(min(col("b")), 6).as("b"),
        r(min(col("w1")), 6).as("w1"),
        r(min(col("w2")), 6).as("w2"),
        r(count(when(hit, 1)).cast("double") / count(lit(1)), 6).as("accuracy"),
        r(sqrt(dsum(sqErr) / count(lit(1))), 6).as("rmse"))
      .orderBy(col("k"))
  }

  val ml29Sql: String = {
    def dmomS(e: String): String = s"sum(CAST(($e) AS DECIMAL(38,10)))"
    def cumS(c: String, as: String): String =
      s"sum($c) OVER (ORDER BY td ROWS UNBOUNDED PRECEDING) AS $as"
    val hitS = "CAST(score >= 0.5 AS INTEGER) = is_anomaly"
    s"""WITH t AS (SELECT id, (id * 10) // ${Telemetry.TwinRows} AS td,
         is_anomaly, temperature AS x1, vibration AS x2
       FROM (${Telemetry.twinSql})),
       dm AS (SELECT td, count(*) AS fn,
         ${dmomS("x1")} AS f1, ${dmomS("x2")} AS f2,
         ${dmomS("x1 * x1")} AS f11, ${dmomS("x1 * x2")} AS f12,
         ${dmomS("x2 * x2")} AS f22,
         ${dmomS("CAST(is_anomaly AS DOUBLE)")} AS fy,
         ${dmomS("x1 * is_anomaly")} AS f1y, ${dmomS("x2 * is_anomaly")} AS f2y
         FROM t GROUP BY td),
       pm0 AS (SELECT td, ${cumS("fn", "cn")}, ${cumS("f1", "c1")},
         ${cumS("f2", "c2")}, ${cumS("f11", "c11")}, ${cumS("f12", "c12")},
         ${cumS("f22", "c22")}, ${cumS("fy", "cy")}, ${cumS("f1y", "c1y")},
         ${cumS("f2y", "c2y")} FROM dm),
       pm AS (SELECT td AS k, CAST(cn AS BIGINT) AS n_train,
         CAST(cn AS DOUBLE) AS nn,
         CAST(c1 AS DOUBLE) AS s1, CAST(c2 AS DOUBLE) AS s2,
         CAST(c11 AS DOUBLE) AS s11, CAST(c12 AS DOUBLE) AS s12,
         CAST(c22 AS DOUBLE) AS s22, CAST(cy AS DOUBLE) AS sy,
         CAST(c1y AS DOUBLE) AS s1y, CAST(c2y AS DOUBLE) AS s2y
         FROM pm0 WHERE td <= 8),
       wts AS (SELECT k, n_train, $detBS / $detS AS b,
         $detW1S / $detS AS w1, $detW2S / $detS AS w2 FROM pm),
       sc AS (SELECT k, n_train, is_anomaly, b, w1, w2,
         ${rSql("b + w1 * x1 + w2 * x2", 6)} AS score
         FROM t JOIN wts ON t.td = wts.k + 1)
       SELECT k, min(n_train) AS n_train, count(*) AS n_test,
         ${rSql("min(b)", 6)} AS b, ${rSql("min(w1)", 6)} AS w1,
         ${rSql("min(w2)", 6)} AS w2,
         ${rSql(s"CAST(count(*) FILTER (WHERE $hitS) AS DOUBLE) / count(*)", 6)} AS accuracy,
         ${rSql(s"sqrt(${dsumSql("(is_anomaly - score) * (is_anomaly - score)")} / count(*))", 6)} AS rmse
       FROM sc GROUP BY k ORDER BY k"""
  }

  // --- ml13: gradient-boosted stumps, the ensemble training loop ----------

  private[graft] val GbtRounds = 3

  /** Literal split-candidate grid (feat 1 = temperature, 2 = vibration),
    * spanning the generator twin's normal/anomaly ranges — data-independent
    * so the split search needs no quantile pass and mirrors exactly. */
  private val StumpCands = Seq(
    (1, 70.0), (1, 75.0), (1, 80.0), (1, 85.0), (1, 90.0),
    (2, 2.0), (2, 2.5), (2, 3.0), (2, 3.5), (2, 4.0))

  /** Shared stump-selection algebra over the per-candidate columns
    * (nl/n integer counts, nld/nrd their doubles, sl/st decimal-exact
    * residual sums): leaf means, and the SSE-reduction gain
    * nl·ml² + nr·mr² (valid because the total residual SS is
    * candidate-independent). Degenerate splits (an empty side) get gain
    * −1 so they can never win. */
  private val StumpMl = "CASE WHEN nl > 0 THEN sl / nld ELSE 0.0 END"
  private val StumpMr = "CASE WHEN n - nl > 0 THEN (st - sl) / nrd ELSE 0.0 END"
  private val StumpGain =
    "CASE WHEN nl = 0 OR nl = n THEN -1.0 ELSE nld * ml * ml + nrd * mr * mr END"

  /** Running-ensemble expression after k rounds: F_k(x) = f0 + Σ ν·stump_j,
    * ν = 0.5, left-to-right addition — one text for both engines. */
  private def gbtF(k: Int): String =
    "f0" + (1 to k).map(j =>
      s" + 0.5 * (CASE WHEN (CASE WHEN feat$j = 1 THEN x1 ELSE x2 END) <= th$j THEN ml$j ELSE mr$j END)")
      .mkString

  /** ml13 — gradient boosting with depth-1 trees (regression stumps on the
    * squared loss), the third member of the oracle-checked training family
    * (ml03 closed-form, ml04 gradient descent, ml13 ensemble). Each of the
    * [[GbtRounds]] rounds is ONE map-side-combinable aggregation: the
    * corpus × 10-literal-candidate grid collapses to per-candidate counts
    * and decimal-exact residual sums, the argmax stump is a 1-row
    * `max(struct(gain, …))` (ORDER BY … LIMIT 1 in the oracle — identical
    * selection because the gains mirror bit-for-bit), and the model state
    * is a growing 1-row broadcast table exactly like ml04's weight chain —
    * so the corpus is never iterated on the driver and lineage stays
    * linear. Scoring replays the shared ensemble expression [[gbtF]]. */
  def ml13GbtStumps(s: SparkSession, dir: String): DataFrame =
    gbtTrainScore(Telemetry.twin(s).select(
      col("id"), col("is_anomaly"),
      col("is_anomaly").cast("double").as("y"),
      col("temperature").as("x1"), col("vibration").as("x2")),
      StumpCands)

  /** ml13's core over an explicit (id, is_anomaly, y, x1, x2) relation and
    * candidate grid — exposed so the spec can plant a separable corpus with
    * a hand-derivable boosting trace. */
  private[graft] def gbtTrainScore(t0: DataFrame,
      cands: Seq[(Int, Double)]): DataFrame = {
    val s = t0.sparkSession
    import s.implicits._
    val t = t0.cache() // feeds every round's aggregation plus final scoring
    val cand = cands.toDF("feat", "theta")
    var state = t.agg(davg(col("y")).as("f0"))
    for (i <- 1 to GbtRounds) {
      val g = t.crossJoin(broadcast(state)).crossJoin(broadcast(cand))
        .withColumn("xv", expr("CASE WHEN feat = 1 THEN x1 ELSE x2 END"))
        .withColumn("res", expr(s"y - (${gbtF(i - 1)})"))
        .groupBy(col("feat"), col("theta"))
        .agg(count(when(expr("xv <= theta"), 1)).as("nl"),
          dsum(expr("CASE WHEN xv <= theta THEN res ELSE 0.0 END")).as("sl"),
          count(lit(1)).as("n"), dsum(col("res")).as("st"))
        .withColumn("nld", col("nl").cast("double"))
        .withColumn("nrd", (col("n") - col("nl")).cast("double"))
        .withColumn("ml", expr(StumpMl)).withColumn("mr", expr(StumpMr))
        .withColumn("gain", expr(StumpGain))
      val best = g
        .agg(max(struct(col("gain"), (-col("feat")).as("nf"),
          (-col("theta")).as("nt"), col("feat"), col("theta"),
          col("ml"), col("mr"))).as("s"))
        .select(col("s.feat").as(s"feat$i"), col("s.theta").as(s"th$i"),
          col("s.ml").as(s"ml$i"), col("s.mr").as(s"mr$i"))
      state = state.crossJoin(broadcast(best))
    }
    t.crossJoin(broadcast(state))
      .select(col("id"), col("is_anomaly"),
        r(expr(gbtF(GbtRounds)), 6).as("score"))
      .withColumn("gbt_prediction", (col("score") >= 0.5).cast("int"))
      .orderBy(col("id"))
  }

  val ml13Sql: String = {
    val values = StumpCands
      .map { case (f, th) => s"($f, CAST($th AS DOUBLE))" }.mkString(", ")
    val rounds = (1 to GbtRounds).map { i =>
      s"""z$i AS MATERIALIZED (SELECT feat, theta, xv, y - (${gbtF(i - 1)}) AS res
           FROM (SELECT t.*, w.*, c.feat, c.theta,
                 CASE WHEN c.feat = 1 THEN t.x1 ELSE t.x2 END AS xv
                 FROM t CROSS JOIN w${i - 1} w CROSS JOIN cand c) q),
         g$i AS (SELECT feat, theta,
             count(CASE WHEN xv <= theta THEN 1 END) AS nl,
             ${dsumSql("CASE WHEN xv <= theta THEN res ELSE 0.0 END")} AS sl,
             count(*) AS n, ${dsumSql("res")} AS st
           FROM z$i GROUP BY feat, theta),
         b$i AS (SELECT feat AS feat$i, theta AS th$i, ml AS ml$i, mr AS mr$i
           FROM (SELECT feat, theta, nl, n, nld, nrd, ml, mr, $StumpGain AS gain
             FROM (SELECT feat, theta, nl, n, nld, nrd,
                 $StumpMl AS ml, $StumpMr AS mr
               FROM (SELECT feat, theta, nl, n, sl, st,
                   CAST(nl AS DOUBLE) AS nld, CAST(n - nl AS DOUBLE) AS nrd
                 FROM g$i) a) b) c
           ORDER BY gain DESC, feat ASC, theta ASC LIMIT 1),
         w$i AS (SELECT w.*, b.* FROM w${i - 1} w CROSS JOIN b$i b)"""
    }.mkString(",\n       ")
    s"""WITH t AS MATERIALIZED (SELECT id, is_anomaly,
         CAST(is_anomaly AS DOUBLE) AS y, temperature AS x1, vibration AS x2
         FROM (${Telemetry.twinSql})),
       cand AS (SELECT * FROM (VALUES $values) v(feat, theta)),
       w0 AS (SELECT ${davgSql("y")} AS f0 FROM t),
       $rounds,
       sc AS (SELECT id, is_anomaly, ${rSql(gbtF(GbtRounds), 6)} AS score
         FROM t CROSS JOIN w$GbtRounds)
       SELECT id, is_anomaly, score,
         CAST(score >= 0.5 AS INTEGER) AS gbt_prediction
       FROM sc ORDER BY id"""
  }

  // --- ml14: ridge-regularized training with a lambda sweep ---------------

  /** ml14's regularization grid — exact binary doubles so the literals
    * mirror bit-for-bit (written with CAST AS DOUBLE in the oracle). */
  private[graft] val RidgeLams = Seq(0.0, 0.5, 2.0, 8.0)

  /** Ridge-ify ml03's Cramer templates: the penalty λ·nn lands on the two
    * feature diagonal moments (s11, s22) and nowhere else — the intercept
    * stays unpenalized, and scaling by nn makes λ corpus-size-invariant.
    * Pure text substitution, so Spark and DuckDB evaluate the identical
    * expression tree. */
  private def ridgeSub(t: String): String =
    t.replace("s11", "(s11 + lam * nn)").replace("s22", "(s22 + lam * nn)")

  /** ml14 — model selection as a query: ml03's closed-form linear-
    * probability trainer swept over the [[RidgeLams]] ridge grid in ONE
    * pass. The 9 training moments are computed once; each λ reuses them
    * through the substituted Cramer templates (a 4-row broadcast), and one
    * scoring pass reports per-λ train MSE, accuracy, and the weight norm.
    * The textbook checks hold as theorems and are spec-pinned: train MSE
    * is non-decreasing and ‖w‖ non-increasing in λ, with λ=0 ≡ ml03.
    *
    * Scale shape: training cost is ONE map-side-combinable aggregation
    * regardless of grid size; the sweep itself is O(|grid|) broadcast
    * algebra, and evaluation is a single scan scored against 4 broadcast
    * weight rows — the pattern a 100 TB hyperparameter sweep needs (never
    * re-aggregate the corpus per candidate). */
  def ml14Ridge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Telemetry.twin(s).select(
      col("id"), col("is_anomaly"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    val mom = t.agg(
      count(lit(1)).cast("double").as("nn"),
      dsum(col("x1")).as("s1"),
      dsum(col("x2")).as("s2"),
      dsum(col("x1") * col("x1")).as("s11"),
      dsum(col("x1") * col("x2")).as("s12"),
      dsum(col("x2") * col("x2")).as("s22"),
      dsum(col("is_anomaly").cast("double")).as("sy"),
      dsum(col("x1") * col("is_anomaly")).as("s1y"),
      dsum(col("x2") * col("is_anomaly")).as("s2y"))
    val lams = RidgeLams.map(Tuple1.apply).toDF("lam")
    val wts = mom.crossJoin(broadcast(lams))
      .select($"lam",
        expr(s"${ridgeSub(detBS)} / ${ridgeSub(detS)}").as("b"),
        expr(s"${ridgeSub(detW1S)} / ${ridgeSub(detS)}").as("w1"),
        expr(s"${ridgeSub(detW2S)} / ${ridgeSub(detS)}").as("w2"))
    t.crossJoin(broadcast(wts))
      .select($"lam", $"b", $"w1", $"w2",
        expr("b + w1 * x1 + w2 * x2").as("p"),
        col("is_anomaly").cast("double").as("y"))
      .groupBy($"lam")
      .agg(min($"b").as("bb"), min($"w1").as("ww1"), min($"w2").as("ww2"),
        davg(($"p" - $"y") * ($"p" - $"y")).as("mse0"),
        davg(when(($"p" >= 0.5) === ($"y" === 1.0), 1.0).otherwise(0.0)).as("acc0"))
      .select($"lam", r($"bb", 6).as("b"), r($"ww1", 6).as("w1"),
        r($"ww2", 6).as("w2"),
        r(sqrt($"ww1" * $"ww1" + $"ww2" * $"ww2"), 6).as("w_norm"),
        r($"mse0", 6).as("mse_train"), r($"acc0", 6).as("accuracy"))
      .orderBy($"lam")
  }

  val ml14Sql: String = {
    val values = RidgeLams.map(l => s"(CAST($l AS DOUBLE))").mkString(", ")
    s"""WITH t AS (SELECT id, is_anomaly, temperature AS x1, vibration AS x2
         FROM (${Telemetry.twinSql})),
       mom AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
         ${dsumSql("x1")} AS s1, ${dsumSql("x2")} AS s2,
         ${dsumSql("x1 * x1")} AS s11, ${dsumSql("x1 * x2")} AS s12,
         ${dsumSql("x2 * x2")} AS s22,
         ${dsumSql("CAST(is_anomaly AS DOUBLE)")} AS sy,
         ${dsumSql("x1 * is_anomaly")} AS s1y, ${dsumSql("x2 * is_anomaly")} AS s2y
         FROM t),
       lg AS (SELECT * FROM (VALUES $values) v(lam)),
       wts AS (SELECT lam, ${ridgeSub(detBS)} / ${ridgeSub(detS)} AS b,
         ${ridgeSub(detW1S)} / ${ridgeSub(detS)} AS w1,
         ${ridgeSub(detW2S)} / ${ridgeSub(detS)} AS w2
         FROM mom CROSS JOIN lg),
       sc AS (SELECT lam, b, w1, w2, b + w1 * x1 + w2 * x2 AS p,
         CAST(is_anomaly AS DOUBLE) AS y FROM t, wts),
       ag AS (SELECT lam, min(b) AS bb, min(w1) AS ww1, min(w2) AS ww2,
         ${davgSql("(p - y) * (p - y)")} AS mse0,
         ${davgSql("CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END")} AS acc0
         FROM sc GROUP BY lam)
       SELECT lam, ${rSql("bb", 6)} AS b, ${rSql("ww1", 6)} AS w1,
         ${rSql("ww2", 6)} AS w2,
         ${rSql("sqrt(ww1 * ww1 + ww2 * ww2)", 6)} AS w_norm,
         ${rSql("mse0", 6)} AS mse_train, ${rSql("acc0", 6)} AS accuracy
       FROM ag ORDER BY lam"""
  }

  // --- ml15: ablation feature importance from the shared moments ----------

  /** 2×2 normal-equation solve for a single-feature model over moment
    * names (s = Σx, ss = Σx², sxy = Σx·y): intercept and weight text,
    * shared verbatim by Spark expr() and the oracle. */
  private def det2(sS: String, ssS: String) = s"(nn * $ssS - $sS * $sS)"
  private def b1(sS: String, ssS: String, sxyS: String) =
    s"((sy * $ssS - $sS * $sxyS) / ${det2(sS, ssS)})"
  private def w1of(sS: String, ssS: String, sxyS: String) =
    s"((nn * $sxyS - $sS * sy) / ${det2(sS, ssS)})"

  /** ml15 — ablation feature importance: refit ml03's model WITHOUT each
    * feature (the 2×2 closed form over the SAME 9 moments — no second
    * training scan) and report the train-MSE increase. Unlike permutation
    * importance this is fully deterministic, and the theorem "dropping a
    * regressor never lowers train MSE" is spec-pinned (importance ≥ 0,
    * exactly 0 for the full model). One scoring scan evaluates all three
    * models against a 3-row broadcast weight table — the ml14 sweep
    * shape: candidate count never re-aggregates the corpus. */
  def ml15Ablation(s: SparkSession, dir: String): DataFrame = {
    val t = Telemetry.twin(s).select(
      col("id"), col("is_anomaly"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    val mom = t.agg(
      count(lit(1)).cast("double").as("nn"),
      dsum(col("x1")).as("s1"),
      dsum(col("x2")).as("s2"),
      dsum(col("x1") * col("x1")).as("s11"),
      dsum(col("x1") * col("x2")).as("s12"),
      dsum(col("x2") * col("x2")).as("s22"),
      dsum(col("is_anomaly").cast("double")).as("sy"),
      dsum(col("x1") * col("is_anomaly")).as("s1y"),
      dsum(col("x2") * col("is_anomaly")).as("s2y"))
    val wts = mom.select(expr(
      s"""stack(3,
         'full', $detBS / $detS, $detW1S / $detS, $detW2S / $detS,
         'drop_x1', ${b1("s2", "s22", "s2y")}, CAST(0.0 AS DOUBLE), ${w1of("s2", "s22", "s2y")},
         'drop_x2', ${b1("s1", "s11", "s1y")}, ${w1of("s1", "s11", "s1y")}, CAST(0.0 AS DOUBLE)
         ) AS (model, b, w1, w2)"""))
    val scored = t.crossJoin(broadcast(wts))
      .select(col("model"), col("b"), col("w1"), col("w2"),
        expr("b + w1 * x1 + w2 * x2").as("p"),
        col("is_anomaly").cast("double").as("y"))
      .groupBy(col("model"))
      .agg(min(col("b")).as("bb"), min(col("w1")).as("ww1"),
        min(col("w2")).as("ww2"),
        davg((col("p") - col("y")) * (col("p") - col("y"))).as("mse0"))
      // 3 rows, but referenced by two plan branches below — pin it so the
      // scoring aggregation runs once (invariant: branches re-evaluate)
      .localCheckpoint(true)
    val full = scored.filter(col("model") === "full")
      .select(col("mse0").as("mse_full"))
    scored.crossJoin(broadcast(full))
      .select(col("model"), r(col("bb"), 6).as("b"), r(col("ww1"), 6).as("w1"),
        r(col("ww2"), 6).as("w2"), r(col("mse0"), 6).as("mse_train"),
        r(col("mse0") - col("mse_full"), 6).as("importance"))
      .orderBy(col("model"))
  }

  val ml15Sql: String =
    s"""WITH t AS MATERIALIZED (SELECT id, is_anomaly, temperature AS x1,
         vibration AS x2 FROM (${Telemetry.twinSql})),
       mom AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nn,
         ${dsumSql("x1")} AS s1, ${dsumSql("x2")} AS s2,
         ${dsumSql("x1 * x1")} AS s11, ${dsumSql("x1 * x2")} AS s12,
         ${dsumSql("x2 * x2")} AS s22,
         ${dsumSql("CAST(is_anomaly AS DOUBLE)")} AS sy,
         ${dsumSql("x1 * is_anomaly")} AS s1y, ${dsumSql("x2 * is_anomaly")} AS s2y
         FROM t),
       wts AS (SELECT 'full' AS model, $detBS / $detS AS b,
           $detW1S / $detS AS w1, $detW2S / $detS AS w2 FROM mom
         UNION ALL SELECT 'drop_x1', ${b1("s2", "s22", "s2y")},
           CAST(0.0 AS DOUBLE), ${w1of("s2", "s22", "s2y")} FROM mom
         UNION ALL SELECT 'drop_x2', ${b1("s1", "s11", "s1y")},
           ${w1of("s1", "s11", "s1y")}, CAST(0.0 AS DOUBLE) FROM mom),
       sc AS (SELECT model, b, w1, w2, b + w1 * x1 + w2 * x2 AS p,
         CAST(is_anomaly AS DOUBLE) AS y FROM t, wts),
       ag AS (SELECT model, min(b) AS bb, min(w1) AS ww1, min(w2) AS ww2,
         ${davgSql("(p - y) * (p - y)")} AS mse0
         FROM sc GROUP BY model),
       fm AS (SELECT mse0 AS mse_full FROM ag WHERE model = 'full')
       SELECT model, ${rSql("bb", 6)} AS b, ${rSql("ww1", 6)} AS w1,
         ${rSql("ww2", 6)} AS w2, ${rSql("mse0", 6)} AS mse_train,
         ${rSql("mse0 - mse_full", 6)} AS importance
       FROM ag CROSS JOIN fm ORDER BY model"""

  // --- ml33: permutation importance of ml03's features --------------------

  /** Squared residual of the linear score against a (possibly permuted)
    * feature pair — ONE text, interpolated with the column names each
    * leg scores, identical IEEE order in both engines. */
  private def ml33ErrSq(c1: String, c2: String): String =
    s"(y - (b + w1 * $c1 + w2 * $c2)) * (y - (b + w1 * $c1 + w2 * $c2))"

  /** ml33 — PERMUTATION importance (Breiman 2001 §10) of ml03's linear
    * model: refit nothing — score the SAME fitted weights against a
    * deterministic permutation of one feature column and report the MSE
    * increase; a feature whose scrambling doesn't hurt carries no
    * information the model uses. The permutation is a bucketed cyclic
    * derangement: rows hash into 64 `h60` buckets, are ranked by
    * (md5, id) within their bucket, and each row takes its successor's
    * feature value (wrap at the bucket end) — deterministic in both
    * engines, shuffle-local per bucket (no global single-task window),
    * and a true derangement wherever a bucket holds ≥ 2 rows. Output:
    * one `_base` row + one row per feature with the permuted MSE and
    * the importance = rounded-MSE delta. The importances must rank
    * temperature/vibration consistently with ml30's exact linear-SHAP
    * shares (spec-pinned).
    *
    * Scale shape: training is ml03's one moment pass; each permutation
    * is one bucket-partitioned window + an equi-join on (bucket, rank) —
    * 64-way parallel, no global sort; scoring is broadcast weights. */
  def ml33PermImportance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Telemetry.twin(s).select(
      col("id"), col("is_anomaly").cast("double").as("y"),
      col("temperature").as("x1"), col("vibration").as("x2"))
    val mom = t.agg(
      count(lit(1)).cast("double").as("nn"),
      dsum(col("x1")).as("s1"),
      dsum(col("x2")).as("s2"),
      dsum(col("x1") * col("x1")).as("s11"),
      dsum(col("x1") * col("x2")).as("s12"),
      dsum(col("x2") * col("x2")).as("s22"),
      dsum(col("y")).as("sy"),
      dsum(col("x1") * col("y")).as("s1y"),
      dsum(col("x2") * col("y")).as("s2y"))
    val wts = mom.select(
      expr(s"$detBS / $detS").as("b"),
      expr(s"$detW1S / $detS").as("w1"),
      expr(s"$detW2S / $detS").as("w2"))
    val keyed = t
      .withColumn("bkt", DedupLsh.h60(col("id").cast("string")) % 64)
      .withColumn("hk", md5(col("id").cast("string")))
    val wb = Window.partitionBy(col("bkt")).orderBy(col("hk"), col("id"))
    val p = keyed
      .withColumn("rk", row_number().over(wb))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("bkt"))))
      .localCheckpoint(true) // feeds both sides of both permutation joins
    def permuted(xcol: String): DataFrame = {
      // receiver rk takes its SUCCESSOR's value (d.rk = rk % cnt + 1,
      // wrap at the bucket end) — the direction the oracle text spells
      val donor = p.select(col("bkt").as("bkt2"), col("rk").as("drk"),
        col(xcol).as("xp"))
      p.join(donor, col("bkt") === col("bkt2") &&
          (col("rk") % col("cnt") + 1) === col("drk"))
        .select(col("y"),
          (if (xcol == "x1") col("xp") else col("x1")).as("px1"),
          (if (xcol == "x2") col("xp") else col("x2")).as("px2"))
    }
    def mseOf(name: String, scored: DataFrame, c1: String, c2: String): DataFrame =
      scored.crossJoin(broadcast(wts))
        .agg(r(dsum(expr(ml33ErrSq(c1, c2))) / count(lit(1)), 6).as("mse"))
        .select(lit(name).as("feature"), col("mse"))
    val base = mseOf("_base", t, "x1", "x2").localCheckpoint(true)
    val out = base
      .unionAll(mseOf("x1", permuted("x1"), "px1", "px2"))
      .unionAll(mseOf("x2", permuted("x2"), "px1", "px2"))
      .crossJoin(broadcast(base.select(col("mse").as("mse0"))))
      .select(col("feature"), col("mse"),
        r(col("mse") - col("mse0"), 6).as("importance"))
      .orderBy(col("feature"))
    out
  }

  val ml33Sql: String =
    s"""WITH t AS MATERIALIZED (SELECT id, CAST(is_anomaly AS DOUBLE) AS y,
         temperature AS x1, vibration AS x2
       FROM (${Telemetry.twinSql})),
       mom AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
         ${dsumSql("x1")} AS s1, ${dsumSql("x2")} AS s2,
         ${dsumSql("x1 * x1")} AS s11, ${dsumSql("x1 * x2")} AS s12,
         ${dsumSql("x2 * x2")} AS s22, ${dsumSql("y")} AS sy,
         ${dsumSql("x1 * y")} AS s1y, ${dsumSql("x2 * y")} AS s2y
         FROM t),
       wts AS (SELECT $detBS / $detS AS b, $detW1S / $detS AS w1,
         $detW2S / $detS AS w2 FROM mom),
       p AS MATERIALIZED (SELECT y, x1, x2, bkt, hk,
           row_number() OVER (PARTITION BY bkt ORDER BY hk, id) AS rk,
           count(*) OVER (PARTITION BY bkt) AS cnt
         FROM (SELECT *, ${DedupLsh.h60Sql("CAST(id AS VARCHAR)")} % 64 AS bkt,
                 md5(CAST(id AS VARCHAR)) AS hk FROM t) z),
       p1 AS (SELECT a.y, d.x1 AS px1, a.x2 AS px2
         FROM p a JOIN p d ON d.bkt = a.bkt AND d.rk = a.rk % a.cnt + 1),
       p2 AS (SELECT a.y, a.x1 AS px1, d.x2 AS px2
         FROM p a JOIN p d ON d.bkt = a.bkt AND d.rk = a.rk % a.cnt + 1),
       m0 AS (SELECT '_base' AS feature,
         ${rSql(s"${dsumSql(ml33ErrSq("x1", "x2"))} / count(*)", 6)} AS mse
         FROM t CROSS JOIN wts),
       m1 AS (SELECT 'x1' AS feature,
         ${rSql(s"${dsumSql(ml33ErrSq("px1", "px2"))} / count(*)", 6)} AS mse
         FROM p1 CROSS JOIN wts),
       m2 AS (SELECT 'x2' AS feature,
         ${rSql(s"${dsumSql(ml33ErrSq("px1", "px2"))} / count(*)", 6)} AS mse
         FROM p2 CROSS JOIN wts),
       uni AS (SELECT * FROM m0 UNION ALL SELECT * FROM m1
         UNION ALL SELECT * FROM m2)
       SELECT feature, mse,
         ${rSql("mse - (SELECT mse FROM m0)", 6)} AS importance
       FROM uni ORDER BY feature"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml33_perm_importance" -> (ml33PermImportance _),
    "ml15_ablation" -> (ml15Ablation _),
    "ml14_ridge" -> (ml14Ridge _),
    "ml13_gbt_stumps" -> (ml13GbtStumps _),
    "ml12_learning_curve" -> (ml12LearningCurve _),
    "ml29_walk_forward" -> (ml29WalkForward _),
    "ml01_rf_scoring" -> (ml01RfScoring _),
    "ml02_lr_scoring" -> (ml02LrScoring _),
    "ml03_lsq_scoring" -> (ml03LsqScoring _),
    "ml30_linear_attribution" -> (ml30LinearAttribution _),
    "ml04_gd_scoring" -> (ml04GdScoring _),
    "ml11_kfold_cv" -> (ml11KfoldCv _))

  /** ml01/ml02 are MLlib (not SQL-expressible) → rows-only + spec; ml03's
    * closed-form algebra mirrors exactly. */
  val oracles: Map[String, String] = Map(
    "ml33_perm_importance" -> ml33Sql,
    "ml15_ablation" -> ml15Sql,
    "ml14_ridge" -> ml14Sql,
    "ml13_gbt_stumps" -> ml13Sql,
    "ml12_learning_curve" -> ml12Sql,
    "ml29_walk_forward" -> ml29Sql,
    "ml03_lsq_scoring" -> ml03Sql,
    "ml30_linear_attribution" -> ml30Sql,
    "ml04_gd_scoring" -> ml04Sql,
    "ml11_kfold_cv" -> ml11Sql)
}
