package graft.ext

import org.apache.spark.sql.{EvalOnceStrategy, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Replace the first `n` occurrences of a regex — the reference's
  * `str.replace(pat, repl, n:)` (lib/polars/string_expr.rb:1199) has no
  * Spark builtin (`regexp_replace` is all-occurrences only).
  *
  * A native Catalyst `Expression` with `doGenCode` (preference (b) of the
  * custom-operator ladder): stays inside whole-stage codegen — the generated
  * code calls the static matcher loop below, exactly like Spark's own
  * RegExpReplace calls into its helper. */
case class StrReplaceN(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(StringType, StringType, StringType, IntegerType)
    val actual = children.map(_.dataType)
    if (actual == expected) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_replace_n expects (string, string, string, int), got $actual")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_replace_n"

  override protected def nullSafeEval(s: Any, p: Any, r: Any, n: Any): Any =
    UTF8String.fromString(StrReplaceN.replaceN(
      s.toString, p.toString, r.toString, n.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p, r, n) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.ext.StrReplaceN.replaceN($s.toString(), $p.toString(), $r.toString(), $n))")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): StrReplaceN =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object StrReplaceN {
  /** Matcher loop shared by interpreted eval and generated code. */
  def replaceN(s: String, regex: String, repl: String, n: Int): String = {
    if (n <= 0) return s
    val m = java.util.regex.Pattern.compile(regex).matcher(s)
    val sb = new StringBuffer
    var count = 0
    while (count < n && m.find()) {
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(repl))
      count += 1
    }
    m.appendTail(sb)
    sb.toString
  }
}

/** Session-extension wiring (`spark.sql.extensions=graft.ext.GraftExtensions`)
  * — registers graft's native expressions into the function registry so both
  * SQL and `call_function` resolve them, and plans every global sort with
  * [[org.apache.spark.sql.EvalOnceStrategy]] so its input is computed once. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => EvalOnceStrategy)
    ext.injectFunction(GraftExtensions.replaceNDescriptor)
    ext.injectFunction(GraftExtensions.minhashDescriptor)
    ext.injectFunction(GraftExtensions.unicodeNormDescriptor)
  }
}

object GraftExtensions {
  private val replaceNDescriptor = (
    new FunctionIdentifier("graft_replace_n"),
    new ExpressionInfo(classOf[StrReplaceN].getName, "graft_replace_n"),
    (children: Seq[Expression]) => {
      require(children.size == 4, "graft_replace_n(str, regex, repl, n)")
      StrReplaceN(children(0), children(1), children(2), children(3))
    })

  private val minhashDescriptor = (
    new FunctionIdentifier("graft_minhash"),
    new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
    (children: Seq[Expression]) => {
      require(children.size == 3, "graft_minhash(text, shingle_k, num_hashes)")
      MinHashSig(children(0), children(1), children(2))
    })

  private val unicodeNormDescriptor = (
    new FunctionIdentifier("graft_unicode_norm"),
    new ExpressionInfo(classOf[UnicodeNorm].getName, "graft_unicode_norm"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_unicode_norm(str, form)")
      UnicodeNorm(children(0), children(1))
    })

  /** Direct registration on an existing session (extensions only apply at
    * session construction). Idempotent: the sort strategy is appended once. */
  def register(spark: SparkSession): Unit = {
    val extra = spark.experimental.extraStrategies
    if (!extra.contains(EvalOnceStrategy))
      spark.experimental.extraStrategies = extra :+ EvalOnceStrategy
    spark.sessionState.functionRegistry.registerFunction(
      replaceNDescriptor._1, replaceNDescriptor._2, replaceNDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      minhashDescriptor._1, minhashDescriptor._2, minhashDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      unicodeNormDescriptor._1, unicodeNormDescriptor._2, unicodeNormDescriptor._3)
  }
}
