package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** A value that changes from one micro-batch (or loop iteration) to the
  * next — a stream's batch bound, a sweep's group id — as a leaf
  * expression whose generated code reads the value from the plan's
  * reference array instead of inlining it. A literal puts the value into
  * the generated Java source, so every new value misses Spark's codegen
  * cache and compiles again; with a `BatchParam` every value shares one
  * generated class.
  *
  * It is deterministic and never foldable, so the optimizer moves it like
  * a literal but never folds it back into one; for the same reason it is
  * not pushed down to Parquet, and a scan that relied on that pushdown
  * must prune its files on the driver (`VectorTable.scanFrom`).
  */
case class BatchParam(value: Any, dataType: DataType) extends LeafExpression {
  require(CodeGenerator.isPrimitiveType(dataType), s"BatchParam holds primitives, not $dataType")

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("batchParam", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final $javaType ${ev.value} = $ref.${javaType}Value();",
      isNull = FalseLiteral)
  }
}

object BatchParam {
  def apply(v: Long): Column = Bridge.column(BatchParam(v, LongType))
  def apply(v: Int): Column = Bridge.column(BatchParam(v, IntegerType))
}
