package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator: per-key running "last marked value STRICTLY
  * before this row" — the as-of enrichment kernel (`last(when(cond, v),
  * ignoreNulls) OVER (PARTITION BY key ORDER BY ord ROWS UNBOUNDED
  * PRECEDING TO 1 PRECEDING)`) as a single forward scan with O(1) state.
  *
  * Why not the window: WindowExec materializes each key's ENTIRE row group
  * before emitting (running frames included) — a hot key at 100 TB buffers
  * and spills its whole history. This operator holds exactly one
  * remembered value per in-flight key: sorted input streams through,
  * nothing is buffered, nothing spills. Same exchange + sort requirements
  * as the window (EnsureRequirements inserts both), strictly less state.
  *
  * Emit-then-update gives the frame's `1 PRECEDING` exclusive upper bound:
  * a row never sees a marker from itself or later, and equal-order-key
  * marker rows are visible only to rows after them in the total (key, ord)
  * order — bit-identical to the window formulation (AsofSpec gates it).
  */
case class LastBefore(
    key: Seq[Expression],
    order: Seq[Expression],
    cond: Expression,
    value: Expression,
    attached: AttributeReference, // constructor field: exprId must survive copy()
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ attached
  // `attached` is an Expression-typed field, so it lands in `references`;
  // declaring it produced keeps missingInput empty (the Generate pattern).
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(attached)
  override protected def withNewChildInternal(newChild: LogicalPlan): LastBefore =
    copy(child = newChild)
}

case class LastBeforeExec(
    key: Seq[Expression],
    order: Seq[Expression],
    cond: Expression,
    value: Expression,
    attached: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ attached

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(attached)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(key) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (key ++ order).map(SortOrder(_, Ascending)) :: Nil

  override def outputOrdering: Seq[SortOrder] =
    (key ++ order).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // locals only: closing over `this` would serialize the plan tree
    val (keyE, condE, valE, attrs, out) = (key, cond, value, child.output, output)
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyE, attrs)
      val condB = BindReferences.bindReference(condE, attrs)
      val valB = BindReferences.bindReference(valE, attrs)
      val resultProj = UnsafeProjection.create(out, out)
      val appended = new GenericInternalRow(1)
      val joined = new JoinedRow
      var curKey: InternalRow = null
      var remembered: Any = null
      iter.map { row =>
        val k = keyProj(row)
        if (curKey == null || k != curKey) {
          curKey = k.copy()
          remembered = null
        }
        appended.update(0, remembered)
        val res = resultProj(joined(row, appended))
        // update AFTER emit: the 1-PRECEDING exclusive bound
        if (java.lang.Boolean.TRUE == condB.eval(row)) {
          remembered = valB.eval(row)
        }
        res
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): LastBeforeExec =
    copy(child = newChild)
}

object LastBeforeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LastBefore(key, order, cond, value, attached, child) =>
      LastBeforeExec(key, order, cond, value, attached, planLater(child)) :: Nil
    case _ => Nil
  }
}

object LastBefore {
  /** Name-based API: appends `outName` = the latest `valueCol` of a row
    * satisfying `condCol` strictly earlier in the per-`keyNames`
    * (`orderNames`-sorted) sequence; null when none. Attributes resolve
    * from the analyzed child (task-serializable — see TopKPerKey). */
  def lastBefore(df: DataFrame, keyNames: Seq[String], orderNames: Seq[String],
      condCol: String, valueCol: String, outName: String): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output
      .find(_.name.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name)}"))
    val valueAttr = attr(valueCol)
    val attached =
      AttributeReference(outName, valueAttr.dataType, nullable = true)()
    GraftColumnBridge.ofRows(spark,
      LastBefore(keyNames.map(attr), orderNames.map(attr),
        attr(condCol), valueAttr, attached, child))
  }
}
