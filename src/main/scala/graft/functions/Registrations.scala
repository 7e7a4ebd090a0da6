package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.StringType

/** The one registry of the native graft SQL functions: the list of fixed-name functions,
  * the arity check every builder goes through, and the two ways the list reaches a
  * session's function registry —
  *  - up front, injected by [[GraftExtensions]] into every session built with it (every
  *    [[graft.LocalSession]], so every main and spec);
  *  - lazily, through [[ensure]], for a session built without the extension (an external
  *    caller's, a benchmark harness's). `graft.SparkEntry.queries` calls it around every
  *    query builder, and [[graft.cdc.ParseRedo.parse]] calls it for callers that plan the
  *    CDC chain directly.
  * The registry is session-local: a function is resolved by name when the session that
  * owns the plan ANALYZES it, so [[ensure]] must be given that session. */
object Registrations {
  type Builder = Seq[Expression] => Expression
  type Entry = (FunctionIdentifier, ExpressionInfo, Builder)

  /** A function entry whose builder rejects any argument count but `arity` at analysis
    * time, naming the function. A silent `children.head` would drop extra arguments (a
    * hoped-for flag argument gets wrong semantics with no diagnostic) and die on zero
    * arguments with a bare NoSuchElementException. */
  private[functions] def entry(name: String, cls: Class[_], arity: Int)(build: Builder): Entry =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), { children =>
      if (children.size != arity)
        throw new AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map("functionName" -> name, "expectedNum" -> arity.toString,
            "actualNum" -> children.size.toString, "docroot" -> ""))
      build(children)
    })

  /** Every fixed-name native function. `parse_redo_noescape` is the reference's
    * `map.unescaped.strings = false` posture (Config:29). */
  val all: Seq[Entry] = Seq(
    entry("parse_redo", classOf[ParseRedoExpr], 1)(c => ParseRedoExpr(c.head, unescape = true)),
    entry("parse_redo_noescape", classOf[ParseRedoExpr], 1)(c =>
      ParseRedoExpr(c.head, unescape = false)),
    entry("vec_dot", classOf[VecDot], 2)(c => VecDot(c(0), c(1))),
    entry("envelope_fold", classOf[EnvelopeFold], 5)(c =>
      EnvelopeFold(c(0), c(1), c(2), c(3), c(4))),
    entry("text_scan", classOf[TextScan], 1)(c => TextScan(c.head)),
    entry("text_bpe_count", classOf[TextBpeCount], 1)(c => TextBpeCount(c.head)),
    entry("text_langid_scan", classOf[TextLangIdScan], 1)(c => TextLangIdScan(c.head)),
    entry("text_tri_rep", classOf[TextTriRep], 1)(c => TextTriRep(c.head)),
    entry("winnow_select", classOf[WinnowSelect], 1)(c => WinnowSelect(c.head)))

  private[functions] def registry(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry

  /** Idempotently registers every function in [[all]] that `spark` does not have yet. */
  def ensure(spark: SparkSession): Unit = {
    val r = registry(spark)
    all.foreach { case (ident, info, builder) =>
      if (!r.functionExists(ident)) r.registerFunction(ident, info, builder)
    }
  }
}

/** The shared analysis-time type gate of the one-string-argument kernels. */
trait StringArgument extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }
}

/**
 * SparkSessionExtensions entry point: injects every function of [[Registrations.all]], so
 * both SQL (`SELECT parse_redo(sql_redo).data FROM ...`, `SELECT k, envelope_fold(...)
 * GROUP BY k`) and the DataFrame API (`call_function("parse_redo", col)`) reach the native
 * expressions. Activate with `.withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.functions.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Registrations.all.foreach(ext.injectFunction)
}
