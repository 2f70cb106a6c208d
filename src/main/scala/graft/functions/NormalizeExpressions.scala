package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Text

/** Native Catalyst expressions for the engine's normalizers — preferred
  * over Scala UDFs (SURVEY.md §2.11): null-safe, codegen'd (doGenCode emits
  * a direct static call, keeping the surrounding WholeStageCodegen span
  * intact, no UDF closure serialization), registered for SQL use.
  */
abstract class GraftStringExpression extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  // analysis-time type check + implicit cast (a non-string argument would
  // otherwise fail at codegen/eval time with a confusing ClassCastException);
  // the type lives behind shim.InputType — AbstractDataType is private[sql]
  override def inputTypes: Seq[org.apache.spark.sql.graft.shim.InputType] =
    org.apache.spark.sql.graft.shim.stringInput
  protected def fnName: String // fully-qualified static-call target

  protected def applyFn(s: String): String

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(applyFn(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString($fnName($c.toString()))")
}

/** normalize_str (C1 — utils/str.py:4-17) as a native expression. */
case class NormalizeStr(child: Expression) extends GraftStringExpression {
  override def prettyName: String = "graft_normalize_str"
  protected def fnName: String = "graft.functions.GraftFunctions.normalizeStr"
  protected def applyFn(s: String): String = Text.normalizeStr(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** normalize_column_name (C2 — utils/column_names.py:16-30). */
case class NormalizeColumnName(child: Expression) extends GraftStringExpression {
  override def prettyName: String = "graft_normalize_column_name"
  protected def fnName: String = "graft.functions.GraftFunctions.normalizeColumnName"
  protected def applyFn(s: String): String = Text.normalizeColumnName(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** normalize_column_value (C3 — utils/column_values.py:4-11). */
case class NormalizeColumnValue(child: Expression) extends GraftStringExpression {
  override def prettyName: String = "graft_normalize_column_value"
  protected def fnName: String = "graft.functions.GraftFunctions.normalizeColumnValue"
  protected def applyFn(s: String): String = Text.normalizeColumnValue(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** unidecode-subset transliteration (C7). */
case class Transliterate(child: Expression) extends GraftStringExpression {
  override def prettyName: String = "graft_transliterate"
  protected def fnName: String = "graft.functions.GraftFunctions.transliterate"
  protected def applyFn(s: String): String = Text.transliterate(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** Polynomial codepoint hash (seed 7, mult 31, mod 2^31-1 — the engine's
  * cross-engine hash family; DuckDB recomputes it via list_reduce over
  * unicode codepoints) as a NATIVE codegen expression. The Column-API
  * construction (sequence → transform(ascii) → aggregate) evaluates HOF
  * lambdas per element and materializes an index array per ROW — and
  * deterministic sampling applies this hash to EVERY row of the corpus,
  * so the direct static call matters at 100 TB. Also handles astral
  * codepoints correctly (codePointAt, matching the oracle's unicode(c))
  * where the per-char ascii() chain would hash surrogate halves.
  */
case class PolyHash(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_hash"
  // implicit cast: graft_poly_hash(doc_id) on a BIGINT column casts to
  // string at analysis time (the engine itself always hashes id STRINGS)
  override def inputTypes: Seq[org.apache.spark.sql.graft.shim.InputType] =
    org.apache.spark.sql.graft.shim.stringInput

  override def nullSafeEval(input: Any): Any =
    GraftFunctions.polyHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftFunctions.polyHash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}

/** `spark.sql.extensions`-style injector (SURVEY.md §7.3 ladder: whole-
  * session registration without touching application code):
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * registers every engine expression in the session's FunctionRegistry at
  * build time, so pure-SQL users get `graft_normalize_str` etc. with native
  * codegen — no UDF jars, no per-notebook registration calls.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    def info(clazz: Class[_], name: String, usage: String) =
      new ExpressionInfo(clazz.getName, null, name, usage, "")
    ext.injectFunction((FunctionIdentifier("graft_normalize_str"),
      info(classOf[NormalizeStr], "graft_normalize_str", "_FUNC_(str) - reference normalize_str"),
      (es: Seq[Expression]) => NormalizeStr(es.head)))
    ext.injectFunction((FunctionIdentifier("graft_normalize_column_name"),
      info(classOf[NormalizeColumnName], "graft_normalize_column_name", "_FUNC_(str) - reference normalize_column_name"),
      (es: Seq[Expression]) => NormalizeColumnName(es.head)))
    ext.injectFunction((FunctionIdentifier("graft_normalize_column_value"),
      info(classOf[NormalizeColumnValue], "graft_normalize_column_value", "_FUNC_(str) - reference normalize_column_value"),
      (es: Seq[Expression]) => NormalizeColumnValue(es.head)))
    ext.injectFunction((FunctionIdentifier("graft_transliterate"),
      info(classOf[Transliterate], "graft_transliterate", "_FUNC_(str) - unidecode-subset transliteration"),
      (es: Seq[Expression]) => Transliterate(es.head)))
    ext.injectFunction((FunctionIdentifier("graft_poly_hash"),
      info(classOf[PolyHash], "graft_poly_hash", "_FUNC_(str) - polynomial codepoint hash (seed 7, mod 2^31-1)"),
      (es: Seq[Expression]) => PolyHash(es.head)))
  }
}

/** Static call targets for generated code (stable Java-visible names). */
object GraftFunctions {
  def normalizeStr(s: String): String = Text.normalizeStr(s)

  /** [[graft.ops.TextKernel.polyHash]] over the raw UTF8String, allocation-
    * free: pure-ASCII inputs (the engine's decimal id strings — every byte
    * IS its codepoint) hash straight off the bytes; anything else falls
    * back to the String decode + codePointAt walk. Identical output either
    * way.
    */
  def polyHash(u: UTF8String): Long = {
    val n = u.numBytes()
    var acc = 7L
    var i = 0
    while (i < n) {
      val b = u.getByte(i)
      if (b < 0) return graft.ops.TextKernel.polyHash(u.toString)
      acc = (acc * 31 + b) % graft.ops.TextKernel.PolyMod
      i += 1
    }
    acc
  }
  def normalizeColumnName(s: String): String = Text.normalizeColumnName(s)
  def normalizeColumnValue(s: String): String = Text.normalizeColumnValue(s)
  def transliterate(s: String): String = Text.transliterate(s)

  // Column-API form (Spark 4: Column<->Expression via the sql-package shim)
  import org.apache.spark.sql.graft.shim.{column, expression}
  def poly_hash(c: Column): Column = column(PolyHash(expression(c)))
}
