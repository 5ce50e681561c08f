package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

/** Exact product aggregate — the one cross-series aggregation the reference has
  * (MultiplyStage, lang/m3/stage/MultiplyStage.java:20-41) that Spark lacks a
  * builtin for.
  *
  * `ProductDecl` is a DeclarativeAggregate: the buffer is (running product,
  * seen-any) expressed as plain Catalyst expressions, so the aggregation stays
  * inside whole-stage codegen with map-side partial aggregation — unlike a
  * typed `Aggregator`, whose buffer serialization forces ObjectHashAggregate
  * and breaks the codegen span. Null inputs are ignored; an all-null group
  * yields null (matching the reference's absent-sample semantics).
  */
case class ProductDecl(child: Expression) extends DeclarativeAggregate {
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "product_exact"

  private lazy val product = AttributeReference("product", DoubleType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(product, seen)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(1.0), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), product, product * child),
    If(IsNull(child), seen, Literal(true)))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    product.left * product.right,
    seen.left || seen.right)

  override lazy val evaluateExpression: Expression =
    If(seen, product, Literal(null, DoubleType))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object Product {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** product(col) as a codegen-capable Column aggregate (HashAggregate). */
  def product(c: Column): Column =
    column(ProductDecl(expression(c)).toAggregateExpression())
}
