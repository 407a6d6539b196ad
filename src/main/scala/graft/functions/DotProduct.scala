package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) evaluates its lambdas
  * interpreted — ~1µs per element — which dominates similarity
  * scoring at millions of candidate pairs. This expression generates
  * a tight primitive loop via `doGenCode` (whole-stage codegen), with
  * an identical left-to-right summation order so results are
  * bit-equal to the HOF version (and to a sequential SQL oracle).
  *
  * Float inputs are implicitly cast to double (ImplicitCastInputTypes)
  * so products round in double precision, matching DuckDB DOUBLE[]
  * math.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // return type inferred: AbstractDataType is private[sql] in Spark 4
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    // mismatched dimensions are an upstream bug (corrupt embedding,
    // wrong literal): fail loudly instead of silently truncating
    if (x.length != y.length) throw DotProduct.mismatch(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i) * y(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |if ($x.length != $y.length) {
         |  throw graft.functions.DotProduct.mismatch($x.length, $y.length);
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $x.length; $i++) { $s += $x[$i] * $y[$i]; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-API entry point. */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(
      DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Shared by eval and generated code. */
  def mismatch(na: Int, nb: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_dot: mismatched array lengths ($na vs $nb) — upstream dimension bug")
}

/** [[DotProduct]]'s integer twin over two `array<bigint>` columns —
  * the int8-quantized scan path's inner loop ([[graft.ext.Similarity
  * .quantizedDot]]). Same left-to-right order and two's-complement
  * wrap semantics as the HOF formulation, so scores are bit-equal;
  * callers guarantee headroom (|q| ≤ 127 ⇒ dim·127² ≪ 2⁶³).
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toLongArray()
    val y = b.asInstanceOf[ArrayData].toLongArray()
    if (x.length != y.length) throw DotProduct.mismatch(x.length, y.length)
    var s = 0L
    var i = 0
    while (i < x.length) { s += x(i) * y(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |long[] $x = $a.toLongArray();
         |long[] $y = $b.toLongArray();
         |if ($x.length != $y.length) {
         |  throw graft.functions.DotProduct.mismatch($x.length, $y.length);
         |}
         |long $s = 0L;
         |for (int $i = 0; $i < $x.length; $i++) { $s += $x[$i] * $y[$i]; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

object DotProductLong {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-API entry point. */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(
      DotProductLong(ColumnShim.expression(a), ColumnShim.expression(b)))
}

/** PQ asymmetric-distance lookup sum: `Σ_i lut[i][codes[i]]` over an
  * `array<int>` code word and a per-query `array<array<double>>`
  * lookup table — the ADC serving inner loop ([[graft.ext.Similarity
  * .pqAdcScores]]). The HOF formulation (`aggregate(zip_with(codes,
  * lut, element_at(row, c+1)))`) pays interpreted-lambda and
  * per-element ArrayData costs on every (query, candidate) pair; this
  * generates the two-level gather as a tight loop. Identical
  * left-to-right summation; out-of-range codes fail loudly (the HOF's
  * ANSI element_at contract), never read garbage.
  */
case class LutSum(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(IntegerType), ArrayType(ArrayType(DoubleType)))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_lut_sum"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData].toIntArray()
    val lut = b.asInstanceOf[ArrayData]
    if (codes.length != lut.numElements())
      throw DotProduct.mismatch(codes.length, lut.numElements())
    var s = 0.0
    var i = 0
    while (i < codes.length) {
      // a null inner row is a malformed lookup table (upstream bug) —
      // without this check getArray would NPE in generated code,
      // breaking the operator's loud-IllegalArgumentException contract
      if (lut.isNullAt(i)) throw LutSum.nullRow(i)
      val row = lut.getArray(i)
      val c = codes(i)
      if (c < 0 || c >= row.numElements()) throw LutSum.outOfRange(c, row.numElements())
      s += row.getDouble(c)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val codes = ctx.freshName("codes")
      val row = ctx.freshName("row")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int[] $codes = $a.toIntArray();
         |if ($codes.length != $b.numElements()) {
         |  throw graft.functions.DotProduct.mismatch($codes.length, $b.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $codes.length; $i++) {
         |  if ($b.isNullAt($i)) {
         |    throw graft.functions.LutSum.nullRow($i);
         |  }
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $b.getArray($i);
         |  int $c = $codes[$i];
         |  if ($c < 0 || $c >= $row.numElements()) {
         |    throw graft.functions.LutSum.outOfRange($c, $row.numElements());
         |  }
         |  $s += $row.getDouble($c);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LutSum =
    copy(left = newLeft, right = newRight)
}

object LutSum {
  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column-API entry point. */
  def lutSum(codes: Column, lut: Column): Column =
    ColumnShim.column(
      LutSum(ColumnShim.expression(codes), ColumnShim.expression(lut)))

  /** Shared by eval and generated code. */
  def outOfRange(c: Int, n: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_lut_sum: code $c outside table of $n centroids — codebook/codes mismatch")

  /** Shared by eval and generated code. */
  def nullRow(i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_lut_sum: null lookup-table row at subspace $i — malformed LUT upstream")
}
