package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.{Partitioner, RangePartitioner}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, LazilyGeneratedOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The range bucket of a row's order key: `bounds.getPartition(key)`
  * for boundaries sampled ONCE, at plan time, and baked into the plan.
  *
  * A pure function of the key values — equal keys always share a
  * bucket, and bucket ids are monotone with the active order (asc/desc
  * and null placement per key, lexicographic over several keys) — so
  * every lineage that evaluates it agrees on every row's bucket,
  * whatever Catalyst prunes, reuses or re-plans. This is what lets the
  * distributed order machinery join per-bucket prefixes back to rows
  * on the bucket id instead of a physical partition id.
  *
  * Constructed programmatically (see [[OrderBucket.column]]), so it has
  * no SQL registration. */
case class OrderBucket(children: Seq[Expression], bounds: Partitioner)
    extends Expression {

  override def nullable: Boolean = false

  override def dataType: DataType = IntegerType

  override def prettyName: String = "order_bucket"

  // the boundaries are plan-time data; plans print the keys only
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any =
    bounds.getPartition(new GenericInternalRow(children.map(_.eval(input)).toArray[Any]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", bounds, classOf[Partitioner].getName)
    val key = ctx.freshName("key")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      val boxed =
        if (CodeGenerator.isPrimitiveType(c.dataType))
          s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${e.value})"
        else e.value.toString
      s"""${e.code}
         |$key[$i] = ${e.isNull} ? null : $boxed;""".stripMargin
    }.mkString("\n")
    val body =
      s"""Object[] $key = new Object[${children.length}];
         |$fill
         |final int ${ev.value} = $ref.getPartition(
         |  new ${classOf[GenericInternalRow].getName}($key));""".stripMargin
    ev.copy(code = code"$body", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OrderBucket = copy(children = newChildren)
}

object OrderBucket {

  /** The bucket column of `df` under the active order `ordCols`, split
    * into `n` key ranges of roughly equal row counts.
    *
    * Runs ONE sampling job now, at plan time: the keys are sketched
    * with Spark's own range-exchange sampler ([[RangePartitioner]], the
    * same per-partition reservoir sample and weighted boundary pick a
    * `rangepartitioning` exchange runs, sized by
    * `spark.sql.execution.rangeExchange.sampleSizePerPartition`). The
    * sorted boundary array then travels inside the expression. Skew
    * only unbalances the buckets; it never splits a key. */
  def column(df: DataFrame, ordCols: Seq[Column], n: Int): Column = {
    // the analyzer resolves the sort orders (direction, null placement,
    // key expressions) exactly as a sort of `df` would see them
    val orders = df.sortWithinPartitions(ordCols: _*).queryExecution.analyzed
      .collectFirst { case s: Sort => s.order }.get
    val keys = df.select(orders.map(o => ColumnBridge.column(o.child)): _*)
    val ordering = new LazilyGeneratedOrdering(
      keys.schema.fields.toSeq.zip(orders).zipWithIndex.map { case ((f, o), i) =>
        SortOrder(BoundReference(i, f.dataType, f.nullable),
          o.direction, o.nullOrdering, Seq.empty)
      })
    val hint = df.sparkSession.conf
      .get("spark.sql.execution.rangeExchange.sampleSizePerPartition", "100").toInt
    val bounds = new RangePartitioner(n,
      keys.queryExecution.toRdd.map(r => (r.copy(), null)),
      ascending = true, samplePointsPerPartitionHint = hint)(
      ordering, ClassTag(classOf[InternalRow]))
    ColumnBridge.column(OrderBucket(orders.map(_.child), bounds))
  }
}
