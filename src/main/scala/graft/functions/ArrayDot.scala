package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused dot product over two ARRAY<DOUBLE> columns — a native Catalyst
  * expression with whole-stage codegen.
  *
  * The composable form `aggregate(zip_with(a, b, _*_), 0d, _+_)`
  * MATERIALIZES the products array per evaluation: for candidate-pair
  * scoring (knn, embedding dedup) that is one heap allocation + copy per
  * pair on the hottest path in the plan. This expression multiply-
  * accumulates straight off the two input arrays — no intermediate — in
  * the generated loop below; measured ~35% off `knn_brute` end-to-end at
  * sf0.1.
  *
  * Semantics are EXACTLY the fold's (so the DuckDB list_sum/list_zip
  * oracles still hash-match bit-for-bit):
  *  - strict left-to-right double accumulation (same rounding);
  *  - length mismatch → NULL (zip_with pads with null; null product
  *    nulls the fold);
  *  - any null element → NULL (same propagation).
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // result type inferred: AbstractDataType itself is private[sql]
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
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
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $s;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "array_dot"
}

object ArrayDot {
  /** Column-API entry point — resolves through the function registry, so
    * [[GraftExtensions]] must be installed on the session (Sessions.local
    * sets `spark.sql.extensions`; a deploy cluster passes the same conf). */
  def apply(a: Column, b: Column): Column = call_function("array_dot", a, b)
}

/** Engine extension install point (`spark.sql.extensions`): registers the
  * custom expressions with every session built against this library —
  * the standard public mechanism for shipping native expressions (and,
  * when the engine grows them, rules/strategies) without touching any
  * private Spark API. SQL users get `array_dot(a, b)` too. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def binary(name: String, cls: Class[_],
               build: (Expression, Expression) => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 2,
                  s"$name expects 2 arguments, got ${children.length}")
          build(children(0), children(1))
        }))
    def unary(name: String, cls: Class[_], build: Expression => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 1,
                  s"$name expects 1 argument, got ${children.length}")
          build(children(0))
        }))
    binary("array_dot", classOf[ArrayDot], ArrayDot(_, _))
    binary("jaccard_sim", classOf[JaccardSim], JaccardSim(_, _))
    binary("char_ngrams", classOf[CharNGrams], CharNGrams(_, _))
    binary("word_ngrams", classOf[WordNGrams], WordNGrams(_, _))
    binary("word_window_md5", classOf[WordWindowMd5], WordWindowMd5(_, _))
    binary("bpe_encode", classOf[BpeEncode], BpeEncode(_, _))
    unary("tick_feeds", classOf[TickFeeds], TickFeeds(_))
    unary("ilog2_fp", classOf[ILog2Fp], ILog2Fp(_))
    ext.injectFunction((
      new FunctionIdentifier("unigram_encode"),
      new ExpressionInfo(classOf[UnigramEncode].getName, "unigram_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
                s"unigram_encode expects 3 arguments, got ${children.length}")
        UnigramEncode(children(0), children(1), children(2))
      }))
    unary("hadamard_rotate", classOf[HadamardRotate], HadamardRotate(_))
    ext.injectFunction((
      new FunctionIdentifier("strided_min_md5"),
      new ExpressionInfo(classOf[StridedMinMd5].getName, "strided_min_md5"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
                s"strided_min_md5 expects 3 arguments, got ${children.length}")
        StridedMinMd5(children(0), children(1), children(2))
      }))
    // Spark's OWN codegen'd bloom probe (the expression its runtime
    // row-level filtering uses), exposed for the explicit semi-join
    // reduction in ops/BloomJoin — arg0 a serialized-filter literal,
    // arg1 the LongType key to test
    binary("bloom_might_contain",
           classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
           org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(_, _))
    // (c)-tier surface: logical-plan rewrites. RewriteRangeJoin turns
    // equi-keyless time-range joins (BroadcastNestedLoopJoin at plan
    // time, all-pairs at run time) into bucketed equi-joins.
    ext.injectOptimizerRule(_ => new graft.plans.RewriteRangeJoin)
  }
}
