package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** A statement constant that generated code reads as a parameter.
  *
  * Spark's `Literal` writes an int, long, double, float, short, byte,
  * date or timestamp value into the generated Java source, and the
  * compiled-class cache is keyed on that source, so two statements that
  * differ only in a constant (`a = 262` against `a = 229`) each compile
  * their own classes. This literal puts its value in the plan's
  * `references` array instead and reads it once into a class field:
  * the source is the same for every value, and the second statement
  * reuses the first one's classes. Strings, decimals and NULL already
  * stay out of the source and generate as a plain literal does.
  *
  * Being a `Literal`, it matches every `case Literal(…)` of Spark's:
  * parquet filter pushdown, constant folding and propagation, and its
  * plan string is the plain literal's. It is built only in the lowering:
  * it equals the plain literal of the same value, so a Catalyst rule
  * that replaced one with the other would keep the original node.
  */
class ParamLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !ParamLiteral.inlinedTypes(dataType)) super.doGenCode(ctx, ev)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "param",
        f => s"$f = $ref.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
}

object ParamLiteral {
  /** The types whose values `Literal.doGenCode` writes into the source. */
  private val inlinedTypes: DataType => Boolean = {
    case IntegerType | LongType | DoubleType | FloatType | ShortType | ByteType |
         DateType | TimestampType => true
    case _ => false
  }

  /** `value` (a Scala or java.sql carrier, as `lit` takes) as a
    * parameter constant of the type `lit` would give it.
    */
  def column(value: Any): Column = {
    val l = Literal(value)
    Bridge.column(new ParamLiteral(l.value, l.dataType))
  }
}
