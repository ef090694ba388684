/* Placed under org.apache.spark.sql so the `private[sql]` Column<->
 * Expression bridge (classic.ExpressionUtils) is reachable — the standard
 * extension-point technique for shipping custom Catalyst expressions as a
 * third-party library against the public Spark jars. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd dot product over `array<float>`/`array<double>`, in DOUBLE.
  *
  * The interpreted alternative — `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0D, (acc,v) -> acc+v)` — allocates a zipped array and evaluates two
  * lambda closures per element outside whole-stage codegen; on similarity
  * workloads that made cosine scoring the round-1 bench bottleneck. This
  * expression compiles to a tight primitive loop (no allocation, no
  * boxing) and stays inside WholeStageCodegen.
  *
  * Semantics: elements are upcast to double and accumulated strictly
  * left-to-right (bit-identical to DuckDB's `list_dot_product` on the
  * equal-length, non-null inputs the oracles compare); a NULL element
  * or a LENGTH MISMATCH makes the result NULL — exactly the propagation
  * of the interpreted `aggregate(zip_with(...))` formulation this
  * expression replaces (zip_with null-pads the shorter array, and the
  * pad poisons the sum). `vec_dot` is registered for arbitrary SQL, so
  * it cannot lean on the fixtures' clean schema: reading a null slot as
  * 0.0 — or silently truncating a 384-dim query vector against a
  * 256-dim index vector to their common prefix — would be plausible
  * wrong data with no diagnostic, where NULL is visible and filterable.
  *
  * ImplicitCastInputTypes (ANSI upcast-only): NULL literals coerce,
  * `array<int>` upcasts, `array<float>`/`array<double>` bind unchanged
  * (no cast on the hot path — double cannot up-cast to float, so each
  * binds its exact collection member).
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  // element types are fixed after analysis — resolve once, not per row
  // on the interpreted path
  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (n != y.numElements()) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      sum += xv * yv
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, sum) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("sum"))
      def get(arr: String, isFloat: Boolean): String =
        if (isFloat) s"(double) $arr.getFloat($i)"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $sum = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $sum += ${get(a, leftFloat)} * ${get(b, rightFloat)};
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** Sign-LSH band codes: `bands` Int codes, band b reading dims
  * [b·bits, (b+1)·bits), `code_b = Σ_j [emb[b·bits+j] >= 0] << j` — the
  * one band coding of every sign-LSH operator in `Similarity`.
  *
  * The `CASE WHEN emb[i] >= 0` arms it replaces (48–64 per row) were
  * inlined by whole-stage codegen into one method past HotSpot's
  * 8,000-byte JIT limit, so the stage ran interpreted (SCALE.md
  * "Generated-method size"). Codegen here is one call into
  * [[SignBandCodes.codes]], whatever bands × bits is.
  *
  * Semantics are those arms' under Spark's compare: a null element gives
  * bit 0, NaN and -0.0 give bit 1. An embedding shorter than bands·bits,
  * or a null one, raises `raise_error`'s exception naming `api` and
  * `bands*bits = N` instead of reading past the end. `bands` and `bits`
  * are literals or knob columns; `api` reaches the generated code as a
  * reference object, never as source text.
  */
case class SignBandCodes(embedding: Expression, bands: Expression,
    bits: Expression, api: String)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def first: Expression = embedding
  override def second: Expression = bands
  override def third: Expression = bits

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    IntegerType, IntegerType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "sign_band_codes"

  @transient private lazy val isFloat =
    embedding.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    def knob(e: Expression): Int = e.eval(input) match {
      case null => -1
      case v    => v.asInstanceOf[Int]
    }
    SignBandCodes.codes(embedding.eval(input).asInstanceOf[ArrayData],
      knob(bands), knob(bits), isFloat, api)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (e, b, k) = (embedding.genCode(ctx), bands.genCode(ctx), bits.genCode(ctx))
    val apiRef = ctx.addReferenceObj("api", api, "java.lang.String")
    val kernel = classOf[SignBandCodes].getName
    ev.copy(code = code"""
      |${e.code}
      |${b.code}
      |${k.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $kernel.codes(
      |  ${e.isNull} ? null : ${e.value},
      |  ${b.isNull} ? -1 : ${b.value}, ${k.isNull} ? -1 : ${k.value},
      |  $isFloat, $apiRef);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SignBandCodes =
    copy(embedding = newFirst, bands = newSecond, bits = newThird)
}

object SignBandCodes {

  /** The kernel loop, shared by the interpreted and generated paths.
    * `emb` may be null and a null knob arrives as -1; both raise.
    * `!(v < 0)` is Spark's `v >= 0`: true for -0.0 and for NaN.
    */
  def codes(emb: ArrayData, bands: Int, bits: Int, isFloat: Boolean,
      api: String): ArrayData = {
    if (bands < 1 || bits < 1 || bits > 30)
      throw raise(s"$api: need bands >= 1 and 1 <= bits <= 30 (band codes " +
        s"are Int bitmasks), got bands=$bands bits=$bits")
    val need = bands.toLong * bits
    if (emb == null)
      throw raise(s"$api: bands*bits = $need needs an embedding, got null")
    if (emb.numElements() < need)
      throw raise(s"$api: bands*bits = $need exceeds the embedding " +
        s"dimension ${emb.numElements()} -- lower bands or bits, or pass " +
        "the embedding's true dim")
    val out = new Array[Int](bands)
    var i = 0
    var b = 0
    while (b < bands) {
      var code = 0
      var j = 0
      while (j < bits) {
        if (!emb.isNullAt(i)) {
          val neg = if (isFloat) emb.getFloat(i) < 0 else emb.getDouble(i) < 0
          if (!neg) code |= 1 << j
        }
        i += 1
        j += 1
      }
      out(b) = code
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `raise_error(msg)`'s exception, so the kernel fails as the
    * `CASE`/`raise_error` text it replaced did.
    */
  private def raise(msg: String): RuntimeException =
    QueryExecutionErrors.raiseError(
      UTF8String.fromString("USER_RAISED_EXCEPTION"),
      ArrayBasedMapData(Array[Any](UTF8String.fromString("errorMessage")),
        Array[Any](UTF8String.fromString(msg))))
}

/** Column-level entry points for the vector expressions. */
object VectorColumns {
  /** Dot product of two float/double array columns, as double. */
  def vecDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProductD(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** L2 norm of a float/double array column, as double. */
  def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** [[SignBandCodes]]: `bands` sign-LSH band codes of `bits` dims each
    * from a float/double array column, raising with `api` on a short
    * or null embedding.
    */
  def signBandCodes(emb: Column, bands: Column, bits: Column,
      api: String): Column =
    ExpressionUtils.column(SignBandCodes(ExpressionUtils.expression(emb),
      ExpressionUtils.expression(bands), ExpressionUtils.expression(bits), api))
}
