package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, EqualTo, Expression, LambdaFunction, Literal, NamedLambdaVariable, Not, Size, StringSplit, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: number of non-empty space-separated
  * tokens of a string — exactly `size(filter(split(s, " ", -1),
  * t -> t <> ""))` (the W1 tokenizer), without materializing the token
  * array. One byte pass counting maximal non-space runs (0x20 never
  * occurs inside a UTF-8 multibyte sequence, so byte scanning is
  * codepoint-safe); codegen'd so it stays inside whole-stage spans.
  */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count"

  protected override def nullSafeEval(input: Any): Any =
    TokenCount.countTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenCount.countTokens($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCount {
  /** Shared by the interpreted path and generated code. */
  def countTokens(s: UTF8String): Int = {
    val bytes = s.getBytes
    var i = 0
    var n = 0
    var inTok = false
    while (i < bytes.length) {
      if (bytes(i) == 0x20) inTok = false
      else if (!inTok) { n += 1; inTok = true }
      i += 1
    }
    n
  }

  def token_count(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(TokenCount(Bridge.expression(c)))
  }
}

/** Optimizer rule: rewrite the ubiquitous token-COUNT pattern
  * `size(filter(split(s, " ", -1), t -> t <> ""))` to the one-pass
  * [[TokenCount]] — the quality/token-stats queries ask only for the
  * count, and building + filtering the intermediate token array per row
  * is pure overhead. Installed by `GraftExtensions.register` (custom
  * `Expression` + `Rule[LogicalPlan]`); result-identity is
  * pinned by a property spec and by every oracle row of the queries the
  * rewrite fires in.
  */
object TokenCountRewrite extends Rule[LogicalPlan] {

  private def isNonEmptyCheck(cond: Expression, v: NamedLambdaVariable): Boolean =
    cond match {
      case Not(EqualTo(l: NamedLambdaVariable, Literal(s, StringType))) =>
        l.exprId == v.exprId && s == UTF8String.fromString("")
      case Not(EqualTo(Literal(s, StringType), r: NamedLambdaVariable)) =>
        r.exprId == v.exprId && s == UTF8String.fromString("")
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // legacySizeOfNull must be false: under
      // spark.sql.legacy.sizeOfNull=true, size(NULL) is -1 while
      // TokenCount(NULL) is NULL — rewriting would change results.
      case Size(
            ArrayFilter(
              StringSplit(str, Literal(delim, StringType), Literal(-1, _)),
              LambdaFunction(cond, Seq(v: NamedLambdaVariable), _)),
            false)
          if delim == UTF8String.fromString(" ") && isNonEmptyCheck(cond, v) =>
        TokenCount(str)
    }
}
