package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{In, InSet, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** A per-query or per-generation scalar that generated code reads by
  * reference: a `lit` number is inlined, so each value compiles a new
  * class; this leaf is not foldable, and one compiled plan serves all. */
case class ByRef(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ByRef.read(ctx, ev, value, dataType)
}

object ByRef {
  def apply(v: Double): Column = column(ByRef(v, DoubleType))
  def apply(v: Long): Column = column(ByRef(v, LongType))

  /** code that reads a primitive `value` from the generated class's references */
  private def read(ctx: CodegenContext, ev: ExprCode, value: Any, dataType: DataType): ExprCode = {
    val (ref, jt) = (ctx.addReferenceObj("byRef", value, CodeGenerator.boxedType(dataType)), CodeGenerator.javaType(dataType))
    ev.copy(code = code"final $jt ${ev.value} = $ref.${jt}Value();", isNull = FalseLiteral)
  }

  /** A literal whose primitive value generated code reads by reference.
    * It stays a `Literal`, so an `In` over these keeps what Spark gives a
    * literal list: cached-batch min/max pruning and parquet pushdown. */
  final class Lit(v: Any, t: DataType) extends Literal(v, t) {
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      if (CodeGenerator.isPrimitiveType(t)) read(ctx, ev, v, t) else super.doGenCode(ctx, ev)
  }

  /** `c IN values` as an `InSet`: the generated code holds one hash set
    * (`isin` of ≤ 10 values inlines each). Always a `HashSet`: the code
    * casts to the set's class, and small Scala sets have one class per size. */
  def inSet(c: Column, values: Iterable[Any]): Column = column(InSet(expression(c),
    scala.collection.immutable.HashSet.from(values.iterator.map { case s: String => UTF8String.fromString(s); case v => v })))

  /** `c IN values` for a point lookup in a cached frame: an `In` of [[Lit]]s,
    * which compiles once per count of values and, unlike an `InSet`, lets
    * the cached scan skip every batch whose min/max holds none of them
    * (Spark's OptimizeIn still makes more than 10 values an `InSet`) */
  def in(c: Column, values: Seq[Any]): Column =
    column(In(expression(c), values.map { v => val l = Literal(v); new Lit(l.value, l.dataType) }))
}
