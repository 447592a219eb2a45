package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expression for cosine similarity of two double
  * arrays — the hot inner loop of the similarity operators (SURVEY.md
  * §7.3: "upgrade to Catalyst Expression with codegen only if bench
  * demands"; the brute-force top-k spends its time here).
  *
  * One fused loop computes dot product and both norms — versus the
  * builtin formulation (zip_with + three aggregate folds) which
  * allocates an intermediate array and walks the inputs four times.
  * Identical IEEE result: the fold order (sequential, left-to-right,
  * all-double) matches both the builtin version and DuckDB's
  * list_dot_product, so swapping it in preserves oracle parity
  * (verified: q36 stays hash-identical).
  *
  * Generated code is a tight primitive loop inside whole-stage codegen;
  * `nullSafeEval` provides the interpreted fallback.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  // the function is in the session's SQL registry, so arbitrary SQL can
  // reach it — reject non-array<double> inputs at analysis time instead
  // of class-casting at runtime
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // Mismatched dims MUST error, not degrade: a min-length prefix
    // cosine is plausible-but-wrong (same failure class as the LSH
    // bandBucket dim guard), and DuckDB's list_dot_product likewise
    // rejects unequal lengths, so erroring is also the parity behavior.
    val n = x.numElements()
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"$prettyName: vector dims differ ($n vs ${y.numElements()})")
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    // zero/empty vector: similarity 0, not NaN/Infinity (NaN sorts
    // GREATEST in Spark, so it would win a similarity top-k)
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException("graft_cosine: vector dims differ ("
         |    + $a.numElements() + " vs " + $b.numElements() + ")");
         |}
         |int $n = $a.numElements();
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  val FnName = "graft_cosine"

  /** Registry builder with an arity check — the registry path (SQL
    * text) can pass any argument count; type errors are handled by
    * `checkInputDataTypes` at analysis. */
  def build(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(a, b) => CosineSim(a, b)
    case other => throw new IllegalArgumentException(
      s"$FnName takes exactly 2 arguments, got ${other.length}")
  }

  /** Idempotently register the function in the session's SQL registry —
    * after this, `SELECT graft_cosine(a, b)` works in plain SQL text on
    * this session (the extensions path `GraftExtensions` installs the
    * same builder at session build time). */
  def register(s: SparkSession): Unit =
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      FnName, build, "built-in")

  /** Register and return a Column invoking the function (avoids
    * depending on Column↔Expression internals, which moved in the
    * Spark 4 sql-api split). */
  def cosine(s: SparkSession, a: Column, b: Column): Column = {
    register(s)
    call_function(FnName, a, b)
  }
}
