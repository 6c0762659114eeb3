package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression wrapping [[Lemmatizer.lemma]].
  *
  * Preferred over a Scala UDF (SURVEY.md §2.9): participates in
  * whole-stage codegen via a direct static call — no boxing, no
  * closure serialization, null handling inherited from
  * `UnaryExpression`.
  */
case class LemmatizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lemmatize"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Lemmatizer.lemma(input.asInstanceOf[UTF8String].toString))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.text.Lemmatizer.lemma($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): LemmatizeExpr =
    copy(child = newChild)
}

object TextFunctions {
  /** Column form of the lemmatizer; needs no registered SQL function,
    * so it works in any session. */
  def lemmatize(c: Column): Column =
    graft.engine.Columns.ofExpr(LemmatizeExpr(graft.engine.Columns.exprOf(c)))
}
