package graft.functions

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{CosineTopKStrategy, PruneCosineTopKChildren}

/** Custom Catalyst expressions for the similarity / fingerprint kernels
  * (SURVEY.md §4 "custom needs"). These are the hot inner loops of the
  * LLM-pipeline operators; a Scala UDF here would box every float of
  * every row, so each gets `doGenCode` and participates in whole-stage
  * codegen. The reference has no equivalent — its only extension point
  * delegates scripts to an external engine
  * (`/root/reference/R/DataFrameOperationR.R:504-515`).
  */
object VectorExpressions {

  /** One graft SQL function: its name, its `DESCRIBE FUNCTION` usage
    * line, and the builder from argument expressions. */
  final case class SqlFunction(name: String, usage: String,
      build: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(
      classOf[graft.GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")
  }

  /** The one function table: [[graft.GraftExtensions]] injects every row
    * at session build and [[register]] installs the same rows on a
    * session built without the extension. */
  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("vec_dot",
      "vec_dot(a, b) - double dot product of float vectors",
      e => VecDot(e(0), e(1))),
    SqlFunction("vec_scale",
      "vec_scale(arr, s) - array<double> of each element divided by s",
      e => VecScale(e(0), e(1))),
    SqlFunction("vec_absmax",
      "vec_absmax(arr) - largest absolute element, as double",
      e => VecAbsMax(e.head)),
    SqlFunction("vec_quant",
      "vec_quant(arr, s) - array<double> of floor(element * s)",
      e => VecQuant(e(0), e(1))),
    SqlFunction("rolling_min_hash",
      "rolling_min_hash(s) - min 64-bit Karp-Rabin hash over 16-byte windows",
      e => RollingMinHash(e.head)),
    SqlFunction("rolling_hashes",
      "rolling_hashes(s) - every 16-byte-window Karp-Rabin hash, in order",
      e => RollingHashes(e.head)),
    SqlFunction("minhash_sig",
      "minhash_sig(tokens) - 64-slot MinHash signature",
      e => MinHashSig(e.head)),
    SqlFunction("simhash64", "simhash64(tokens) - 64-bit SimHash",
      e => SimHash64(e.head)),
    SqlFunction("word_shingles3",
      "word_shingles3(text) - distinct word 3-gram shingles",
      e => WordShingles(e.head, 3)),
    SqlFunction("word_shingles2",
      "word_shingles2(text) - distinct word 2-gram shingles",
      e => WordShingles(e.head, 2)),
    SqlFunction("count_in_set",
      "count_in_set(arr, 'a,b,c') - members of the literal set, with multiplicity",
      mkCountInSet),
    SqlFunction("cms_estimate",
      "cms_estimate(sketch, token) - Count-Min frequency estimate of token",
      e => CmsEstimate(e(0), e(1))),
    SqlFunction("cms_merge",
      "cms_merge(sketch) - aggregate: union of serialized Count-Min sketches",
      e => GraftSqlBridge.aggregate(SketchExpressions.CmsMerge,
        Encoders.BINARY, e)),
  )

  /** Installs [[functions]], the CosineTopK planner strategy and its
    * child-pruning rule on `spark` — what [[graft.GraftExtensions]]
    * injects at session build. Idempotent: a session whose planner
    * already has the strategy (added here last, or injected by the
    * extension) returns at once. */
  def register(spark: SparkSession): Unit =
    if (!installed(spark)) synchronized {
      if (!installed(spark)) {
        val reg = spark.sessionState.functionRegistry
        functions.foreach(f =>
          reg.registerFunction(FunctionIdentifier(f.name), f.info, f.build))
        spark.experimental.extraOptimizations :+= PruneCosineTopKChildren
        spark.experimental.extraStrategies :+= CosineTopKStrategy
      }
    }

  private def installed(spark: SparkSession): Boolean =
    spark.sessionState.planner.strategies.contains(CosineTopKStrategy)

  /** `count_in_set(arr, 'a,b,c')` — the member set must be a foldable
    * string literal (it becomes a static of the generated operator). */
  private def mkCountInSet(
      exprs: Seq[Expression]): CountInSet = exprs(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(s: UTF8String, StringType) =>
      CountInSet(exprs.head, s.toString)
    case other => throw new IllegalArgumentException(
      s"count_in_set expects a string literal set, got $other")
  }
}

/** Dot product of two float or double vectors (each side independently
  * typed; floats widen exactly to double), accumulated in double, element
  * order ascending (deterministic). Codegen emits a tight primitive
  * loop — no boxing, stays inside WholeStageCodegen. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDoubleSide(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float>/array<double> sides, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (ld, rd) = (isDoubleSide(left), isDoubleSide(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (ld) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rd) y.getDouble(i) else y.getFloat(i).toDouble
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      def get(arr: String, dbl: Boolean) =
        if (dbl) s"$arr.getDouble($i)" else s"((double) $arr.getFloat($i))"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${get(a, isDoubleSide(left))} * ${get(b, isDoubleSide(right))};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `vec_scale(arr, s)` → `array<double>` with element i =
  * `((double) arr[i]) / s` — the codegen'd form of the unit-normalize
  * lambda `transform(arr, x -> CAST(x AS DOUBLE) / s)`. Identical IEEE
  * arithmetic per element (one widening cast, one double division, same
  * order), so every oracle that replays the lambda in SQL still
  * hash-matches. Exists because Catalyst's higher-order `transform` is
  * interpreted AND inlines the divisor's defining expression into the
  * lambda body, re-evaluating it per element — round-14 profiling
  * measured the PQ chain spending >10 CPU-seconds re-deriving
  * `sqrt(vec_dot(embedding, embedding))` 64× per row through that path
  * (guide §4: keep hot-path expressions codegen'd). */
case class VecScale(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDoubleArr: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val arrOk = left.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (arrOk && right.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_scale expects (array<float|double>, double), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_scale"

  override def nullSafeEval(a: Any, s: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (isDoubleArr) VecKernels.scaleD(arr, s.asInstanceOf[Double])
    else VecKernels.scaleF(arr, s.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, s) =>
      s"graft.functions.VecKernels.${if (isDoubleArr) "scaleD" else "scaleF"}($a, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecScale =
    copy(left = newLeft, right = newRight)
}

/** `vec_absmax(arr)` → `double` max over |(double) arr[i]| — the
  * codegen'd form of `array_max(transform(arr, x -> abs(CAST(x AS
  * DOUBLE))))` on a non-null numeric array (identical IEEE widening and
  * compare order). Companion of [[VecQuant]]: the s05 quantizer's
  * interpreted lambda inlined this whole array_max into its body and
  * re-evaluated it per ELEMENT. */
case class VecAbsMax(child: Expression) extends UnaryExpression {
  private def isDoubleArr: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_absmax expects array<float|double>, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_absmax"
  override def nullSafeEval(a: Any): Any =
    VecKernels.absMax(a.asInstanceOf[ArrayData], isDoubleArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VecKernels.absMax($a, $isDoubleArr)")
  override protected def withNewChildInternal(newChild: Expression): VecAbsMax =
    copy(child = newChild)
}

/** `vec_quant(arr, s)` → `array<double>` with element i =
  * `(double)(long) floor(((double) arr[i]) * s)` — the codegen'd form
  * of s05's quantizer lambda `transform(arr, x -> CAST(FLOOR(CAST(x AS
  * DOUBLE) * s) AS DOUBLE))` (Spark FLOOR yields BIGINT; the round-trip
  * through long is kept so the value set is bit-identical to the lambda
  * form, including -0.0 → 0.0). The scale argument is evaluated once
  * per call instead of once per element. */
case class VecQuant(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isDoubleArr: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val arrOk = left.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (arrOk && right.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_quant expects (array<float|double>, double), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_quant"
  override def nullSafeEval(a: Any, s: Any): Any =
    VecKernels.quant(a.asInstanceOf[ArrayData], s.asInstanceOf[Double],
      isDoubleArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, s) =>
      s"graft.functions.VecKernels.quant($a, $s, $isDoubleArr)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecQuant =
    copy(left = newLeft, right = newRight)
}

/** Static kernels for [[VecScale]] (plain object = real static
  * forwarders, the janino-safe pattern [[RollingMinHash]] documents). */
object VecKernels {
  def absMax(arr: ArrayData, dbl: Boolean): Double = {
    val n = arr.numElements()
    var m = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val v = math.abs(if (dbl) arr.getDouble(i) else arr.getFloat(i).toDouble)
      if (v > m) m = v
      i += 1
    }
    m
  }
  def quant(arr: ArrayData, s: Double, dbl: Boolean): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = if (dbl) arr.getDouble(i) else arr.getFloat(i).toDouble
      out(i) = math.floor(x * s).toLong.toDouble
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  def scaleF(arr: ArrayData, s: Double): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = arr.getFloat(i).toDouble / s; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  def scaleD(arr: ArrayData, s: Double): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = arr.getDouble(i) / s; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Document fingerprint: minimum 64-bit polynomial rolling hash over all
  * 16-byte windows of the UTF-8 text (Karp-Rabin / winnowing-style
  * min-selection, cf. Schleimer et al., SIGMOD'03). One pass over the
  * bytes, O(1) per window via the precomputed `B^k` leading-byte
  * remover; codegen'd. Texts shorter than the window hash whole. */
case class RollingMinHash(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_min_hash expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_min_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    TextHash.rollingMin(bytes)
  }

  // the kernel lives in TextHash (a plain object with real static
  // forwarders) — a companion-object method here would inherit the name
  // `eval` clash with Expression.eval, lose its forwarder, and make
  // this generated call fail janino compilation (interpreted fallback)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.rollingMin($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): RollingMinHash =
    copy(child = newChild)
}

/** `rolling_hashes(s)` → array of ALL full-window Karp-Rabin hashes in
  * position order (the [[RollingMinHash]] recurrence without the min
  * fold) — the primitive content-defined chunking cuts on
  * ([[graft.llm.Multimodal.m12CdcChunks]]). Codegen'd; one pass. */
case class RollingHashes(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hashes expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_hashes"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    TextHash.rollingAll(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.rollingAll($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): RollingHashes =
    copy(child = newChild)
}
