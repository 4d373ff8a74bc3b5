package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one lowercasing graft's tokens use, on the column side and on the
  * literal side alike: `String.toLowerCase(Locale.ROOT)`, Java's full
  * root-locale mapping, whatever the JVM's default locale.
  *
  * Spark's own `lower()` is not used: with `spark.sql.icu.caseMappings
  * .enabled` (Spark 4.1's default) it maps through ICU, and the first call
  * in a JVM runs ICU's case-mapping initialization (about 1.5 s, while
  * every other task of the stage waits on the class-init lock). Both
  * mappings are identical for ASCII and differ only in rare code points.
  * Nor is `String.toLowerCase()`: under a Turkish default locale it maps
  * `I` to a dotless `ı`, and a literal token would never match the
  * column's.
  */
object Lowercase {
  def apply(s: String): String = s.toLowerCase(Locale.ROOT)

  def apply(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(RootLower(ColumnBridge.expression(c.cast(StringType))))
  }

  /** The row-level mapping [[RootLower]] evaluates and generates. */
  def utf8(v: UTF8String): UTF8String =
    if (v.isFullAscii) v.toLowerCaseAscii
    else UTF8String.fromString(v.toString.toLowerCase(Locale.ROOT))
}

/** `Lowercase(column)` as a Catalyst expression over a string child:
  * codegen'd, null in gives null out, and no path through
  * `CollationSupport`.
  */
case class RootLower(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any = Lowercase.utf8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Lowercase.utf8($c)")

  override def prettyName: String = "root_lower"

  override protected def withNewChildInternal(newChild: Expression): RootLower =
    copy(child = newChild)
}
