package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions

class VectorExpressionsSpec extends GraftSpec {

  test("graft_dot matches the higher-order-function formulation bit-exactly") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Tables.embeddings(spark, sfTiny)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("native", VectorExpressions.dot($"v", $"v"))
      .withColumn("lambda", expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (a, p) -> a + p)"))
    assert(df.filter($"native" =!= $"lambda").count() == 0)
  }

  test("graft_dot handles nulls: null array -> null, null element -> skipped") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Seq(
      (1L, Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))),
      (2L, None, Some(Seq(Some(1.0)))),
      (3L, Some(Seq(Some(1.0), None)), Some(Seq(Some(5.0), Some(7.0)))))
      .toDF("id", "a", "b")
      .withColumn("d", VectorExpressions.dot(col("a"), col("b")))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getDouble(3) == 11.0)
    assert(rows(1).isNullAt(3))
    assert(rows(2).getDouble(3) == 5.0) // null element contributes 0
  }

  test("graft_sqdist matches the higher-order-function formulation bit-exactly") {
    import spark.implicits._
    VectorExpressions.register(spark)
    // pair each vector with a shifted twin so distances are non-trivial
    val df = Tables.embeddings(spark, sfTiny)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("w", expr("transform(v, x -> x * 0.5 + 0.25)"))
      .withColumn("native", VectorExpressions.sqDist($"v", $"w"))
      .withColumn("lambda",
        expr("aggregate(zip_with(v, w, (x, y) -> (x - y) * (x - y)), 0D, (a, d) -> a + d)"))
    assert(df.filter($"native" =!= $"lambda").count() == 0)
  }

  test("graft_sqdist handles nulls: null array -> null, null element -> skipped") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Seq(
      (1L, Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))),
      (2L, None, Some(Seq(Some(1.0)))),
      (3L, Some(Seq(Some(1.0), None)), Some(Seq(Some(5.0), Some(7.0)))))
      .toDF("id", "a", "b")
      .withColumn("d", VectorExpressions.sqDist(col("a"), col("b")))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getDouble(3) == 8.0) // (1-3)^2 + (2-4)^2
    assert(rows(1).isNullAt(3))
    assert(rows(2).getDouble(3) == 16.0) // null element contributes 0
  }

  test("graft_dot is available from plain SQL after registration") {
    VectorExpressions.register(spark)
    val r = spark.sql("SELECT graft_dot(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
  }

  test("similarity plan stays inside whole-stage codegen with graft_dot") {
    val df = graft.operators.Similarity.e04NearDupPairs(spark, sfTiny)
    df.collect() // force execution so AQE's final plan (with codegen stages) exists
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dot"), plan.take(1500))
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan.take(1500))
  }

  test("graft_lsh_sig equals the interpreted higher-order form on every real embedding") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val vecs = Tables.embeddings(spark, sfTiny)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // every table range the queries use, plus an offset one
    Seq((0, 5), (6, 11), (12, 17), (3, 9)).foreach { case (lo, hi) =>
      val mismatches = vecs
        .withColumn("kernel", VectorExpressions.lshSig($"v", lo, hi))
        .withColumn("lambda", expr(graft.operators.Similarity.sigExpr(lo, hi)))
        .filter($"kernel" =!= $"lambda").count()
      assert(mismatches == 0, s"planes [$lo,$hi]")
    }
  }

  test("graft_lsh_sig: null element contributes zero, null array yields null") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val df = Seq(
      (1L, Some(Seq(Some(1.0), None, Some(0.5)))),
      (2L, Option.empty[Seq[Option[Double]]]))
      .toDF("id", "v")
    val rows = df.withColumn("sig", VectorExpressions.lshSig($"v", 0, 5))
      .orderBy($"id").collect()
    assert(!rows(0).isNullAt(2))
    assert(rows(1).isNullAt(2))
  }

  test("graft_poly_hash equals the interpreted lambda fold on every real document") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val twin = expr("aggregate(transform(sequence(1, length(text)), " +
      "i -> ascii(substr(text, i, 1))), 0L, (acc, c) -> (acc * 31 + c) % 1000000007)")
    val diff = Tables.documents(spark, sfTiny)
      .filter(length($"text") > 0)
      .select(VectorExpressions.polyHash($"text").as("fast"), twin.as("slow"))
      .filter($"fast" =!= $"slow").count()
    assert(diff == 0)
    // known value + empty string + unicode (zh codepoints, not bytes)
    val rows = Seq("ab", "", "的").toDF("s")
      .select(VectorExpressions.polyHash($"s")).as[Long].collect()
    assert(rows(0) == 97L * 31 + 98) // 'a'*31 + 'b'
    assert(rows(1) == 0L)
    assert(rows(2) == 30340L) // U+7684 codepoint, one fold step
  }

  test("graft_cdc_bounds equals the interpreted lambda filter on every real document") {
    import spark.implicits._
    VectorExpressions.register(spark)
    val diff = Tables.documents(spark, sfTiny)
      .filter(length($"text") > 0)
      .select(VectorExpressions.cdcBounds($"text", 64).as("fast"),
        graft.operators.Multimodal.cdcBoundsLambda.as("slow"))
      .filter(expr("fast != slow")).count()
    assert(diff == 0)
    // edge shapes: shorter than the window, exactly the window, empty-ish
    val edge = Seq("a", "abc", "abcd", "abcde").toDF("text")
      .select(VectorExpressions.cdcBounds($"text", 64).as("fast"),
        graft.operators.Multimodal.cdcBoundsLambda.as("slow"))
      .filter(expr("fast != slow")).count()
    assert(edge == 0)
    // bounds are strictly increasing from 0 to length
    val bad = Tables.documents(spark, sfTiny).filter(length($"text") > 0)
      .select(VectorExpressions.cdcBounds($"text", 64).as("b"), length($"text").as("n"))
      .filter(expr("b[0] != 0 OR b[size(b) - 1] != n OR " +
        "exists(sequence(1, size(b) - 1), k -> b[k] <= b[k - 1])"))
      .count()
    assert(bad == 0)
  }

  test("VectorKernelRule auto-vectorizes HOF dot/sqdist, bit-identically") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorKernelRule
    val hofDot = "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v)"
    val hofSq = "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (s, v) -> s + v)"
    val df = Tables.embeddings(spark, sfTiny).select(
      $"vec_id",
      $"embedding".cast("array<double>").as("a"),
      reverse($"embedding".cast("array<double>")).as("b"))
    val base = df.select($"vec_id", expr(hofDot).as("d"), expr(hofSq).as("q"))
      .orderBy($"vec_id").collect()
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ VectorKernelRule
    try {
      val out = df.select($"vec_id", expr(hofDot).as("d"), expr(hofSq).as("q"))
        .orderBy($"vec_id")
      // the rule fired: both HOF folds replaced by the strict kernels
      val plan = out.queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_dot_strict"), plan.linesIterator.next())
      assert(plan.contains("graft_sqdist_strict"))
      // and the values are bit-identical to the interpreted HOF run
      assert(out.collect().sameElements(base))
      // strict null algebra survives the rewrite: length mismatch and
      // null elements poison to null, exactly like the lambda form
      val edge = Seq(
        (1L, Seq(Option(1.0), Option(2.0)), Seq(Option(3.0))),
        (2L, Seq(Option(1.0), None), Seq(Option(1.0), Option(2.0))),
        (3L, Seq(Option(2.0), Option(3.0)), Seq(Option(4.0), Option(5.0))))
        .toDF("id", "a", "b")
      val got = edge.select($"id", expr(hofDot).as("d")).orderBy($"id").collect()
      assert(got(0).isNullAt(1), "length mismatch -> null")
      assert(got(1).isNullAt(1), "null element -> null")
      assert(got(2).getDouble(1) == 23.0)
      // a merge lambda that is NOT a plain sum must not match
      val noRw = df.select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + 2 * v)"))
      assert(!noRw.queryExecution.optimizedPlan.toString.contains("graft_dot_strict"))
    } finally spark.experimental.extraOptimizations = prev
  }

  test("graft_argmin_sq / graft_argmax_cos refuse wrong input types at analysis") {
    VectorExpressions.register(spark)
    val pack2 = "array(named_struct('id', 1, 'cv', array(1.0D, 2.0D)))"
    val pack3 = "array(named_struct('id', 1, 'cv', array(1.0D, 2.0D), 'cnrm', 2.0D))"
    // well-typed calls analyze and evaluate
    assert(spark.sql(s"SELECT graft_argmin_sq(array(1.0D, 2.0D), $pack2).id")
      .collect()(0).getInt(0) == 1)
    assert(spark.sql(s"SELECT graft_argmax_cos(array(1.0D, 2.0D), 2.0D, $pack3).id")
      .collect()(0).getInt(0) == 1)
    def refused(sql: String, what: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql))
      assert(e.getMessage.contains(what), e.getMessage)
    }
    // array<int> vectors
    refused(s"SELECT graft_argmin_sq(array(1, 2), $pack2)", "array<double>")
    refused(s"SELECT graft_argmax_cos(array(1, 2), 2.0D, $pack3)", "array<double>")
    // mis-shaped packed structs: a bigint id, a missing norm, a string vector
    refused("SELECT graft_argmin_sq(array(1.0D), " +
      "array(named_struct('id', 1L, 'cv', array(1.0D))))", "packed entries")
    refused(s"SELECT graft_argmax_cos(array(1.0D, 2.0D), 2.0D, $pack2)", "packed entries")
    refused("SELECT graft_argmin_sq(array(1.0D), " +
      "array(named_struct('id', 1, 'cv', array('a'))))", "packed entries")
    // a non-double norm
    refused(s"SELECT graft_argmax_cos(array(1.0D, 2.0D), 'x', $pack3)", "norm")
  }
}
