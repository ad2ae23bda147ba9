package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gram-assembly kernels for the LM count/score family — the per-token
  * hot loop of every LM build, append and score pass at corpus scale.
  *
  * The previous formulation folded `zip_with(acc, concat(array(nulls),
  * tk), ...)` one context level at a time and then exploded an
  * `array(struct(...))` of per-order variants: higher-order functions
  * (ZipWith/ArrayTransform) evaluate INTERPRETED in Spark — per row
  * they allocate k intermediate struct arrays and invoke a lambda per
  * element per level, and the whole chain drops out of whole-stage
  * codegen. At 100 TB the single remaining corpus pass of each build
  * is dominated by exactly this assembly CPU (r15 verdict, top item).
  *
  * Each expression below is ONE codegen'd static call per row (the
  * [[UnicodeTokens]]/[[DupNgramPpm]] house pattern) producing the same
  * rows bit-for-bit — pinned by GramExpressionsSpec against the HOF
  * formulation and by the unchanged DuckDB oracles:
  *
  *  - [[TokenContexts]](tk, k): one struct per token position —
  *    (term, prev1..prev_{k-1}), prev_j = the token j positions back,
  *    null for p0 < j. `posexplode` restores (p0, struct) exactly as
  *    the zip_with fold did (whose null-padded tail rows carried
  *    term = null and were filtered; here they are never built).
  *  - [[GramVariants]](tk, k): every order-1..k gram of every position
  *    as (ord, space-joined gram) — the exploded variants frame of
  *    `allGramCountsK` without the intermediate context structs.
  */
case class TokenContexts(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k >= 2, s"context order must be >= 2, got $k")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(
    StructField("term", StringType, nullable = false) +:
      (1 until k).map(j => StructField(s"prev$j", StringType, nullable = true))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TokenContexts.contexts(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenContexts.contexts($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenContexts {
  /** Called from generated code. */
  def contexts(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val row = new Array[Any](k)
      row(0) = arr.getUTF8String(i)
      var j = 1
      while (j < k) {
        row(j) = if (i >= j) arr.getUTF8String(i - j) else null
        j += 1
      }
      out(i) = new GenericInternalRow(row)
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, k: Int): Column =
    GraftBridge.column(TokenContexts(GraftBridge.expression(c), k))
}

case class GramVariants(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k >= 1, s"order must be >= 1, got $k")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ord", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    GramVariants.variants(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GramVariants.variants($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramVariants {
  private val Sep = UTF8String.fromString(" ")

  /** Called from generated code. Position i emits its order-1..min(i+1,k)
    * grams — exactly the non-null variants the HOF chain kept. */
  def variants(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // sum over i of min(i+1, k)
    val total =
      if (n >= k) k.toLong * n - k.toLong * (k - 1) / 2
      else n.toLong * (n + 1) / 2
    val out = new Array[Any](total.toInt)
    var idx = 0
    var i = 0
    while (i < n) {
      val m = if (i + 1 < k) i + 1 else k
      var ord = 1
      while (ord <= m) {
        val gram =
          if (ord == 1) arr.getUTF8String(i)
          else {
            val parts = new Array[UTF8String](ord)
            var j = 0
            while (j < ord) {
              parts(j) = arr.getUTF8String(i - ord + 1 + j)
              j += 1
            }
            UTF8String.concatWs(Sep, parts: _*)
          }
        out(idx) = new GenericInternalRow(Array[Any](ord, gram))
        idx += 1
        ord += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, k: Int): Column =
    GraftBridge.column(GramVariants(GraftBridge.expression(c), k))
}
