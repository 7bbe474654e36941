package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_dot(a, b)` — native dot product of two array<double>.
  *
  * The composable alternative — `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0D, (s,v) -> s+v)` — allocates an intermediate array and evaluates two
  * interpreted lambdas per element (higher-order functions never enter
  * whole-stage codegen). This expression generates a tight primitive loop
  * instead: no allocation, no virtual calls — the hot kernel of every
  * cosine/similarity operator at 100 TB.
  *
  * Summation order is left-to-right, exactly matching the lambda form and
  * the DuckDB oracle's `list_sum(list_transform(...))`, so results stay
  * bit-identical and oracle SQL is unchanged.
  *
  * Null semantics: null if either array is null (BinaryExpression default);
  * null elements contribute 0.0, keeping the expression total.
  *
  * Lives under `org.apache.spark.sql.graft` because `AbstractDataType` /
  * expression internals are `private[sql]` in Spark 4 — the standard
  * packaging for engine-native extension expressions.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        s += x.getDouble(i) * y.getDouble(i)
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_sqdist(a, b)` — native squared L2 distance of two
  * array<double>: Σ (a[i]−b[i])², accumulated left-to-right — exactly the
  * order of the composable `aggregate(zip_with(a, b, (x,y) ->
  * (x−y)*(x−y)), 0D, (s,v) -> s+v)` and of the DuckDB oracle's
  * `list_sum(list_transform(...))`, so results stay bit-identical while
  * replacing two interpreted lambdas + an intermediate array per row with
  * a tight primitive loop. The hot kernel of PQ codebook training (e07/
  * e11) and Lloyd assignment (e10), where it runs corpus×K times per
  * round. Null semantics match [[DotProduct]]: null if either array is
  * null; null ELEMENTS contribute 0 (total function, one bad element
  * degrades rather than poisons — embeddings are null-free by schema, the
  * domain VectorExpressionsSpec pins equivalence on). */
case class SqDist(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_sqdist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = x.getDouble(i) - y.getDouble(i)
        s += d * d
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}

/** `graft_lsh_sig(v, lo, hi)` — random-hyperplane LSH signature of an
  * array<double>: bit j (MSB-first over planes lo..hi) is set iff
  * dot(v, plane_j) ≥ 0, where plane_j[i] = LCG(j·64 + i)/2³¹ − 0.5 (the
  * same deterministic LCG family the engine uses everywhere).
  *
  * The composable form — nested `aggregate(transform(sequence(...)))`
  * lambdas — evaluates (hi−lo+1)·64 interpreted closures and allocates a
  * plane array per row (higher-order functions never enter whole-stage
  * codegen). This expression generates two tight primitive loops instead:
  * the scan-side kernel of LSH bucketing at 100 TB. Accumulation order
  * (per-plane left-to-right sum, then acc·2+bit) matches the lambda form
  * exactly, so bucket values are bit-identical FOR NULL-FREE EMBEDDINGS
  * (VectorExpressionsSpec pins the equivalence on that domain — which is
  * all the testdata, where embedding elements are non-null by schema).
  * Intentional divergence on arrays containing null elements: this kernel
  * skips null elements (they contribute 0 to the dot product) so one bad
  * element degrades rather than destroys the signature, while the lambda
  * form null-poisons the whole product (zip_with → null → sum null →
  * CASE false → bit 0).
  */
case class LshSignature(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), IntegerType, IntegerType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_lsh_sig"

  override protected def nullSafeEval(v: Any, loAny: Any, hiAny: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val lo = loAny.asInstanceOf[Int]
    val hi = hiAny.asInstanceOf[Int]
    val n = x.numElements()
    var acc = 0L
    var j = lo
    while (j <= hi) {
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i)) {
          val h = ((j.toLong * 64 + i) * 1103515245L + 12345L) % 2147483648L
          s += x.getDouble(i) * (h.toDouble / 2147483648.0 - 0.5)
        }
        i += 1
      }
      acc = acc * 2 + (if (s >= 0.0) 1L else 0L)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, lo, hi) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $v.numElements();
         |long $acc = 0L;
         |for (int $j = $lo; $j <= $hi; $j++) {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$v.isNullAt($i)) {
         |      long $h = (((long) $j * 64 + $i) * 1103515245L + 12345L) % 2147483648L;
         |      $s += $v.getDouble($i) * (((double) $h) / 2147483648.0 - 0.5);
         |    }
         |  }
         |  $acc = $acc * 2 + ($s >= 0.0 ? 1L : 0L);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newFirst: Expression, newSecond: Expression, newThird: Expression): LshSignature =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Static kernel shared by [[PolyHash]]'s interpreted and generated
  * paths (a plain top-level object gets Java static forwarders, which
  * keeps the janino codegen a single static call). */
object GraftHash {
  /** (((0·31+c₁)·31+c₂)…) % 1000000007 over the string's codepoints —
    * exactly the `aggregate(transform(sequence(…), ascii(substr(…))))`
    * fold (Spark `ascii`/DuckDB `ascii` = codepoint; identical for the
    * BMP text this corpus contains). */
  def poly(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** Content-defined-chunking bounds (x06): [0, cuts…, n] over CODEPOINT
    * positions, where 1-based position i (4 ≤ i < n) is a cut iff the
    * 4-codepoint window ending at i satisfies
    * (cp(i−3)·29791 + cp(i−2)·961 + cp(i−1)·31 + cp(i)) % mask == 0 —
    * exactly the `filter(sequence(4, length(text)), i -> i < length(text)
    * AND …ascii(substr(…))…)` lambda and DuckDB's `list_filter(range(4,
    * length(text)), …)` (SQL length/substr/ascii all count codepoints). */
  def cdcBounds(s: UTF8String, mask: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    val out = new scala.collection.mutable.ArrayBuffer[Int](n / 32 + 2)
    out += 0
    var i = 4
    while (i < n) {
      val h = cps(i - 4) * 29791 + cps(i - 3) * 961 + cps(i - 2) * 31 + cps(i - 1)
      if (h % mask == 0) out += i
      i += 1
    }
    out += n
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Static kernels shared by [[ArgminSq]]/[[ArgmaxCos]]'s interpreted and
  * generated paths (top-level object → Java static forwarders, so the
  * janino codegen stays a single static call — the huge unrolled
  * least/greatest-of-structs alternative measured 3-8× slower: it blocks
  * whole-stage codegen and re-extracts the packed array per branch). */
object GraftArgmin {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Spark's double ordering (SQLOrderingUtil.compareDoubles): IEEE ==
    * first (so -0.0 ties 0.0), then Double.compare (NaN greatest) — the
    * exact comparator min/max-of-struct aggregates use, so tie behavior
    * is bit-compatible with the aggregate forms these kernels replace. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  /** Analysis-time input check shared by [[ArgminSq]] and [[ArgmaxCos]]:
    * `v` is array<double>, the optional norm a double, and `kc` an array
    * of structs of exactly (int, array<double>[, double]) — field names
    * are free, the kernels read positions. A wrong type is refused here
    * instead of failing (or misreading) inside a task. */
  def checkInputs(fn: String, v: DataType, nrm: Option[DataType],
      kc: DataType): TypeCheckResult = {
    val extra = nrm.map(_ => DoubleType).toSeq
    val packOk = kc match {
      case ArrayType(StructType(fs), _) =>
        fs.length == 2 + extra.size && fs(0).dataType == IntegerType &&
          isVector(fs(1).dataType) && fs.drop(2).map(_.dataType).toSeq == extra
      case _ => false
    }
    def fail(what: String, want: String, got: DataType) =
      TypeCheckResult.TypeCheckFailure(
        s"$fn: $what must be $want, got ${got.catalogString}")
    if (!isVector(v)) fail("the vector", "array<double>", v)
    else if (nrm.exists(_ != DoubleType)) fail("the norm", "double", nrm.get)
    else if (!packOk)
      fail("the packed entries", s"array<struct<int, array<double>${
        extra.map(_ => ", double").mkString}>>", kc)
    else TypeCheckResult.TypeCheckSuccess
  }

  /** kc: array<struct<id int, cv array<double>>> in id-ASCENDING order;
    * returns struct(dist, id) of the squared-L2 argmin over the entries
    * (dist accumulated left-to-right exactly like [[SqDist]]; ties keep
    * the FIRST = smallest id, reproducing min(struct(dist, id))), or
    * null when kc is empty. Null entries/elements skipped (total). */
  def argminSq(v: ArrayData, kc: ArrayData): InternalRow = {
    val k = kc.numElements()
    var bestD = 0.0
    var bestId = 0
    var found = false
    var e = 0
    while (e < k) {
      if (!kc.isNullAt(e)) {
        val st = kc.getStruct(e, 2)
        if (!st.isNullAt(1)) {
          val cv = st.getArray(1)
          val n = math.min(v.numElements(), cv.numElements())
          var s = 0.0
          var i = 0
          while (i < n) {
            if (!v.isNullAt(i) && !cv.isNullAt(i)) {
              val d = v.getDouble(i) - cv.getDouble(i)
              s += d * d
            }
            i += 1
          }
          if (!found || cmp(s, bestD) < 0) { bestD = s; bestId = st.getInt(0); found = true }
        }
      }
      e += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestD, bestId))
  }

  /** kc: array<struct<id int, cv array<double>, cnrm double>> in
    * id-ASCENDING order; returns struct(ccos, id) of the cosine argmax,
    * ccos = dot(v, cv) / (nrm · cnrm) with the dot accumulated
    * left-to-right exactly like [[DotProduct]]; ties keep the FIRST =
    * smallest id, reproducing max(struct(ccos, −id)). Null when kc is
    * empty. */
  def argmaxCos(v: ArrayData, nrm: Double, kc: ArrayData): InternalRow = {
    val k = kc.numElements()
    var bestC = 0.0
    var bestId = 0
    var found = false
    var e = 0
    while (e < k) {
      if (!kc.isNullAt(e)) {
        val st = kc.getStruct(e, 3)
        if (!st.isNullAt(1) && !st.isNullAt(2)) {
          val cv = st.getArray(1)
          val n = math.min(v.numElements(), cv.numElements())
          var s = 0.0
          var i = 0
          while (i < n) {
            if (!v.isNullAt(i) && !cv.isNullAt(i)) {
              s += v.getDouble(i) * cv.getDouble(i)
            }
            i += 1
          }
          val c = s / (nrm * st.getDouble(2))
          if (!found || cmp(c, bestC) > 0) { bestC = c; bestId = st.getInt(0); found = true }
        }
      }
      e += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestC, bestId))
  }
}

/** `graft_argmin_sq(v, kc)` — nearest-entry search against a packed
  * centroid/codebook array: one native loop over k entries × dim, vs the
  * alternatives measured on the r15 profile: (a) broadcast-join ×k
  * explode + groupBy argmin AGGREGATE — no map-side reduction (keys
  * unique per row), so the exchange carries the whole corpus once per
  * Lloyd round / assignment pass (corpus-sized shuffle at 100 TB, §2.4);
  * (b) unrolled least(struct(…)) over element_at — blocks whole-stage
  * codegen and re-extracts per branch (measured 1.5-2× slower than the
  * aggregate). Distances and tie-breaks are bit-compatible with the
  * aggregate form (see [[GraftArgmin.argminSq]]). */
case class ArgminSq(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("id", IntegerType, nullable = false)))

  override def nullable: Boolean = true

  override def prettyName: String = "graft_argmin_sq"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftArgmin.checkInputs(prettyName, left.dataType, None, right.dataType)

  override protected def nullSafeEval(v: Any, kc: Any): Any =
    GraftArgmin.argminSq(v.asInstanceOf[ArrayData], kc.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, kc) => {
      s"""
         |${ev.value} = org.apache.spark.sql.graft.GraftArgmin.argminSq($v, $kc);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): ArgminSq =
    copy(left = newLeft, right = newRight)
}

/** `graft_argmax_cos(v, nrm, kc)` — nearest-centroid-by-cosine against a
  * packed (id, cv, cnrm) array; same rationale and bit-compatibility as
  * [[ArgminSq]] (see [[GraftArgmin.argmaxCos]]). */
case class ArgmaxCos(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("ccos", DoubleType, nullable = false),
    StructField("id", IntegerType, nullable = false)))

  override def nullable: Boolean = true

  override def prettyName: String = "graft_argmax_cos"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftArgmin.checkInputs(prettyName, first.dataType, Some(second.dataType),
      third.dataType)

  override protected def nullSafeEval(v: Any, nrm: Any, kc: Any): Any =
    GraftArgmin.argmaxCos(v.asInstanceOf[ArrayData],
      nrm.asInstanceOf[Double], kc.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nrm, kc) => {
      s"""
         |${ev.value} = org.apache.spark.sql.graft.GraftArgmin.argmaxCos($v, $nrm, $kc);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newFirst: Expression, newSecond: Expression, newThird: Expression): ArgmaxCos =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_poly_hash(s)` — the d06 rolling polynomial document fingerprint
  * as a native expression. The composable form materializes a
  * length(text)-element array and runs two interpreted lambdas per
  * character (~1M boxed ops per 5k docs — the d06 hot path); this
  * generates one static call over the string instead. Bit-identical to
  * the lambda fold and to DuckDB's `list_reduce` oracle. */
case class PolyHash(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_poly_hash"

  override protected def nullSafeEval(v: Any): Any =
    GraftHash.poly(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.GraftHash.poly($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** `graft_cdc_bounds(s, mask)` — x06's content-defined chunk bounds as a
  * native expression: array<int> [0, cuts…, length] with cuts where the
  * 4-codepoint rolling window hashes to 0 (mod mask). The composable form
  * re-evaluates 4 interpreted `ascii(substr(…))` calls per character
  * (and `substr` degrades to O(i) on non-ASCII text → O(len²) per doc);
  * this is one static pass over the codepoints. Bit-identical to the
  * lambda filter (VectorExpressionsSpec pins it) and to the DuckDB
  * oracle's `list_filter(range(…))`. */
case class CdcBounds(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_cdc_bounds"

  override protected def nullSafeEval(s: Any, m: Any): Any =
    GraftHash.cdcBounds(s.asInstanceOf[UTF8String], m.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, m) => s"org.apache.spark.sql.graft.GraftHash.cdcBounds($s, $m)")

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): CdcBounds =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  private val infos = Seq(
    (new FunctionIdentifier("graft_cdc_bounds"),
      new ExpressionInfo(classOf[CdcBounds].getName, "graft_cdc_bounds"),
      (children: Seq[Expression]) => CdcBounds(children(0), children(1)): Expression),
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1)): Expression),
    (new FunctionIdentifier("graft_lsh_sig"),
      new ExpressionInfo(classOf[LshSignature].getName, "graft_lsh_sig"),
      (children: Seq[Expression]) => LshSignature(children(0), children(1), children(2)): Expression),
    (new FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
      (children: Seq[Expression]) => PolyHash(children(0)): Expression),
    (new FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[SqDist].getName, "graft_sqdist"),
      (children: Seq[Expression]) => SqDist(children(0), children(1)): Expression),
    (new FunctionIdentifier("graft_argmin_sq"),
      new ExpressionInfo(classOf[ArgminSq].getName, "graft_argmin_sq"),
      (children: Seq[Expression]) => ArgminSq(children(0), children(1)): Expression),
    (new FunctionIdentifier("graft_argmax_cos"),
      new ExpressionInfo(classOf[ArgmaxCos].getName, "graft_argmax_cos"),
      (children: Seq[Expression]) => ArgmaxCos(children(0), children(1), children(2)): Expression))

  /** Idempotent in-session registration (for sessions built without
    * `withExtensions`, e.g. the driver's). */
  def register(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    infos.foreach { case (id, info, builder) =>
      classic.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }

  /** Column-API entry points; require [[register]] (or [[GraftExtensions]])
    * on the session first. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def lshSig(v: Column, lo: Int, hi: Int): Column =
    call_function("graft_lsh_sig", v, lit(lo), lit(hi))

  def polyHash(c: Column): Column = call_function("graft_poly_hash", c)

  def cdcBounds(c: Column, mask: Int): Column =
    call_function("graft_cdc_bounds", c, lit(mask))

  def sqDist(a: Column, b: Column): Column = call_function("graft_sqdist", a, b)

  def argminSq(v: Column, kc: Column): Column =
    call_function("graft_argmin_sq", v, kc)

  def argmaxCos(v: Column, nrm: Column, kc: Column): Column =
    call_function("graft_argmax_cos", v, nrm, kc)
}

/** `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions` (or
  * `SparkSession.builder.withExtensions`) makes `graft_dot` available to
  * plain SQL — the SparkSessionExtensions integration point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_sig"),
      new ExpressionInfo(classOf[LshSignature].getName, "graft_lsh_sig"),
      (children: Seq[Expression]) => LshSignature(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
      (children: Seq[Expression]) => PolyHash(children(0))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[SqDist].getName, "graft_sqdist"),
      (children: Seq[Expression]) => SqDist(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_cdc_bounds"),
      new ExpressionInfo(classOf[CdcBounds].getName, "graft_cdc_bounds"),
      (children: Seq[Expression]) => CdcBounds(children(0), children(1))))
    // auto-vectorize the HOF dot/sqdist idioms into the strict kernels —
    // semantics-preserving on all inputs (see VectorKernelRule)
    ext.injectOptimizerRule(_ => VectorKernelRule)
    // stored SQL views over lake tables (parser DDL hook + resolution
    // substitution — see graft.plans.GraftViewRules)
    new graft.plans.GraftViewExtensions().apply(ext)
  }
}
