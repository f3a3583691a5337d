package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.DataType

/** A per-request value that generated code reads at run time instead
  * of compiling in — the serving path's "compile once per query
  * shape" leaf.
  *
  * Catalyst constant-folds a foldable expression such as the query
  * norm `sqrt(vec_dot(lit, lit))` into a Literal, and a primitive
  * Literal is inlined into the generated Java source as text. Every
  * request with a new value then emits new source, so whole-stage
  * codegen compiles new classes (Janino) and runs their first rows
  * interpreted. `Param` is not foldable, and its code reads the value
  * through `ctx.addReferenceObj`: the source is the same for every
  * value of one type, and the codegen cache serves every request
  * after the first of its shape. Array and string Literals are
  * already passed by reference; only primitives need this.
  *
  * A map value (a per-request lookup table) prints as its size, so
  * the table does not grow every plan string and explain output.
  *
  * Not for values a scan predicate needs: parquet pushdown and
  * partition pruning translate Literals only, so a lookup key or a
  * partition id stays a literal.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = value == null

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val jt = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${jt}Value()" else ref
      val v = ctx.freshName("param")
      ev.copy(code = code"$jt $v = $read;", isNull = FalseLiteral,
        value = JavaCode.variable(v, dataType))
    }

  override def toString: String = value match {
    case m: MapData => s"param(map of ${m.numElements()})"
    case v => s"param($v)"
  }
}
