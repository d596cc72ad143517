package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * Why a custom `Expression` (the one place built-ins genuinely fall
  * short, per the build plan's preference order): the higher-order
  * `aggregate(zip_with(...))` form is evaluated interpreted (lambda
  * functions are excluded from whole-stage codegen), and unrolling to an
  * `element_at` chain needs the dimension at plan time and costs
  * O(dim) expression nodes of analysis/codegen per query. This
  * expression is a single node whose `doGenCode` emits a tight Java
  * loop — codegen-friendly at any dimension.
  *
  * Summation is the same left-fold order as the lambda/unrolled forms,
  * so results are bit-identical to them (oracle-compare safe).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are expected as array<double>; call sites cast (ExpectsInputTypes
  // is private[sql] in Spark 4, so coercion is the caller's job here)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"dot_product: dimension mismatch ($n vs ${y.numElements()})")
    }
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_product: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object GraftFunctions {

  /** Column-API entry: `dot_product(a, b)`. */
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Column-API entry: Unicode NFC normalization. */
  def nfc_normalize(s: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(s)))

  /** Column-API entry: accent strip (NFD + drop combining marks). */
  def strip_accents(s: Column): Column =
    Bridge.column(StripAccents(Bridge.expression(s)))

  /** Register the graft functions for SQL use in an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => NfcNormalize(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("strip_accents"),
      new ExpressionInfo(classOf[StripAccents].getName, "strip_accents"),
      (children: Seq[Expression]) => StripAccents(children.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("ngram_run_stats"),
      new ExpressionInfo(classOf[NGramRunStats].getName, "ngram_run_stats"),
      (children: Seq[Expression]) => NGramRunStats(children(0),
        children(1).eval().asInstanceOf[Number].intValue()))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("distinct_shingles"),
      new ExpressionInfo(classOf[DistinctShingles].getName, "distinct_shingles"),
      (children: Seq[Expression]) => DistinctShingles(children(0),
        children(1).eval().asInstanceOf[Number].intValue()))
  }
}
