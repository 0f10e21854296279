package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression: text → the maximal runs of non-stopword tokens,
  * in document order, as array<array<string>> — RAKE's candidate
  * phrases. Tokens are the W1 tokens of `TextOps.tokens` (split on a
  * single space, empties dropped); a token is a stopword when it
  * equals one of `stopwords` exactly. Leading, trailing and repeated
  * stopwords delimit and never yield an empty run; text with no
  * non-stopword token yields an empty array, null text yields null.
  *
  * Segmenting inside the row keeps phrase building a per-record map:
  * the equivalent relational plan posexplodes every token, shuffles
  * and sorts them by document for a cumulative stopword window and
  * regroups the runs. Codegen'd on the [[WordShingles]] pattern: the
  * loop lives in a static helper that the interpreted path and the
  * generated code both call.
  */
case class StopwordRuns(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  @transient private lazy val stopSet = StopwordRuns.stopSet(stopwords)

  override def dataType: DataType = StopwordRuns.ResultType
  override def prettyName: String = "stopword_runs"

  protected override def nullSafeEval(input: Any): Any =
    StopwordRuns.runs(input.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("stopwords", stopSet, classOf[java.util.Set[_]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.StopwordRuns.runs($c, $stopRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordRuns =
    copy(child = newChild)
}

object StopwordRuns {
  val ResultType: ArrayType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = false)

  def stopSet(stopwords: Seq[String]): java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** Shared by the interpreted path and generated code. Splits on the
    * space byte, which never occurs inside a multi-byte UTF-8
    * sequence, so the byte scan cuts where the string split does.
    */
  def runs(input: UTF8String, stop: java.util.Set[UTF8String]): GenericArrayData = {
    val b = input.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[Any](8)
    val run = new scala.collection.mutable.ArrayBuffer[Any](8)
    def close(): Unit = if (run.nonEmpty) {
      out += new GenericArrayData(run.toArray)
      run.clear()
    }
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        if (i > start) {
          val tok = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, start, i))
          if (stop.contains(tok)) close() else run += tok
        }
        start = i + 1
      }
      i += 1
    }
    close()
    new GenericArrayData(out.toArray)
  }

  def stopword_runs(text: Column, stopwords: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(StopwordRuns(Bridge.expression(text), stopwords))
  }
}
