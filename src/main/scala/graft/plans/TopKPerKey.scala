package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator: per-key top-k WITHOUT a full sort.
  *
  * The window formulation (`row_number over (partition by key order by ord)
  * <= k`) sorts every partition's entire contents; this operator keeps a
  * bounded k-heap per key instead — two phases exactly like hash aggregation:
  *
  *   PartialTopKExec (map side, any distribution)
  *     -> exchange on key (inserted automatically by EnsureRequirements via
  *        requiredChildDistribution)
  *       -> TopKPerKeyExec (final, exact)
  *
  * Shuffle volume is at most k rows per key per input partition instead of
  * the full table — the difference between shuffling 100 TB and shuffling
  * k * |keys| rows. Demonstrates the full custom-operator surface:
  * LogicalPlan node + Strategy + physical SparkPlans, registered through
  * SparkSessionExtensions (graft.functions.GraftExtensions) — a session
  * built without them has no plan for the node.
  */
case class TopKPerKey(
    k: Int,
    key: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Shared per-partition bounded-heap pass. */
private[plans] object TopKHeap {
  def partitionTopK(
      iter: Iterator[InternalRow],
      k: Int,
      keyExprs: Seq[Expression],
      order: Seq[SortOrder],
      inputAttrs: Seq[Attribute]): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keyExprs, inputAttrs)
    val rowOrd = GenerateOrdering.generate(order, inputAttrs)
    // max-heap on the ordering: the heap root is the WORST currently-kept row,
    // evicted when a better row arrives and the heap is at k.
    val heaps = new java.util.HashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()
    iter.foreach { row =>
      val key = keyProj(row).copy()
      var heap = heaps.get(key)
      if (heap == null) {
        heap = new java.util.PriorityQueue[InternalRow](k + 1, rowOrd.reversed())
        heaps.put(key, heap)
      }
      if (heap.size() < k) heap.add(row.copy())
      else if (rowOrd.compare(row, heap.peek()) < 0) {
        heap.poll(); heap.add(row.copy())
      }
    }
    import scala.jdk.CollectionConverters._
    heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
  }
}

/** Map-side pass: bounded heaps per key within each input partition. */
case class PartialTopKExec(
    k: Int,
    key: Seq[Expression],
    order: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] = {
    // locals only: closing over `this` would drag the plan tree into the task
    val (kk, keyE, ordE, attrs) = (k, key, order, output)
    child.execute().mapPartitions(
      iter => TopKHeap.partitionTopK(iter, kk, keyE, ordE, attrs),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)
}

/** Final pass: exact per-key top-k after clustering on the key. */
case class TopKPerKeyExec(
    k: Int,
    key: Seq[Expression],
    order: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  // Empty key = global top-k: the final pass must see ALL partial results in
  // one place (AllTuples), else each partition would emit its own k rows.
  override def requiredChildDistribution: Seq[Distribution] =
    if (key.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(key) :: Nil
  override protected def doExecute(): RDD[InternalRow] = {
    val (kk, keyE, ordE, attrs) = (k, key, order, output)
    child.execute().mapPartitions(
      iter => TopKHeap.partitionTopK(iter, kk, keyE, ordE, attrs),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans the logical TopKPerKey as partial -> (exchange) -> final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, key, order, child) =>
      TopKPerKeyExec(k, key, order,
        PartialTopKExec(k, key, order, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** Name-based API: top-k rows per key, ordered by (column, ascending)
    * specs — like ORDER BY ... LIMIT k per group. Attributes are resolved
    * from the analyzed child directly: pure catalyst expressions, fully
    * task-serializable (Column->Expression conversion of `.desc` columns
    * drags a non-serializable sql.internal.SortOrder node into tasks). */
  def topKPerKey(df: DataFrame, k: Int, keyNames: Seq[String],
      orderSpecs: Seq[(String, Boolean)]): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output
      .find(_.name.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name)}"))
    val keyExprs = keyNames.map(attr)
    val orderExprs = orderSpecs.map { case (n, asc) =>
      SortOrder(attr(n),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    GraftColumnBridge.ofRows(spark, TopKPerKey(k, keyExprs, orderExprs, child))
  }
}
