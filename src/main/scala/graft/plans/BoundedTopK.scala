package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.IntegerType

import scala.collection.mutable

/** Per-group top-k as a CUSTOM WHOLE OPERATOR — the (c) rung of the
  * build ladder (SURVEY.md §7.3): a logical node, a planner strategy,
  * and a physical pair registered through the public extension points.
  * It is the library's only per-group top-k: selection AND ranking, so
  * no caller re-derives ranks with a `row_number` window.
  *
  * Physical shape (mirrors partial/final aggregation):
  *
  *   BoundedTopKFinal                       ← ClusteredDistribution(group),
  *     +- Sort [group ASC, order]              ordering group ++ order
  *        +- Exchange hashpartitioning(group)  (both placed by EnsureRequirements)
  *           +- BoundedTopKPartial          ← any distribution
  *              +- child scan
  *
  * The partial keeps one k-capped heap per group it sees, so with few
  * groups the exchange moves at most partitions × groups × k rows
  * whatever the input size — the map-side combine of hash aggregation.
  * With many groups the heaps could not all stay resident, so the
  * partial EMITS AND CLEARS them whenever its resident rows reach a
  * fixed budget ([[BoundedTopK.FlushRows]]); it then prunes less but
  * never holds more. Results stay exact either way: top-k is a merge
  * monoid and the final merges every partial's output (the same reason
  * partial aggregation may fall back without changing the answer).
  *
  * The final streams its group-sorted input (the Sort below it is the
  * spillable UnsafeExternalSorter), keeps each group's first k rows and
  * appends their 1-based `rank` — O(1) resident rows, no heap. That is
  * the REPOSE shape (ICDE 2021): bounded per-partition top-k, exact
  * merge.
  *
  * Determinism contract: `order` must be a total order — include a
  * unique tiebreaker — so selection and ranks are reproducible. Output
  * order is unspecified; callers sort if they need presentation order.
  * q144 proves parity against the window-ranked oracle.
  */
object BoundedTopK {

  /** Resident-row budget of one partial task: reaching it flushes every
    * heap. 64 Ki rows keep a task's heaps in the low MB at typical row
    * widths while still pruning fully whenever groups × k fit. */
  private[plans] val FlushRows: Int = 1 << 16

  /** Top-k rows of `df` per `groupCols` group, "top" = first k under
    * `order`, with a non-null int `rank` column (1..k) appended.
    * Registers the planner strategy on the session (idempotent) and
    * builds the DataFrame over the custom logical node; the analyzer
    * resolves the group/order expressions against `df`'s schema. */
  def perGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
               k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(groupCols.nonEmpty,
      "groupCols must be non-empty — for a GLOBAL top-k use orderBy(...).limit(k), " +
        "which Spark already executes as a TakeOrderedAndProject bounded heap")
    require(!df.columns.exists(_.equalsIgnoreCase("rank")),
      "the input already has a `rank` column; rename or drop it first")
    val spark = df.sparkSession
    GraftPlanBridge.addStrategy(spark, BoundedTopKStrategy)
    val sortOrders = order.map(c => GraftPlanBridge.toCatalyst(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    val rank = AttributeReference("rank", IntegerType, nullable = false)()
    val node = BoundedTopKNode(groupCols.map(UnresolvedAttribute(_)), sortOrders, k,
      rank, df.queryExecution.analyzed)
    // `rank` is re-aliased by a Project: when a plan meets itself in a
    // self-join the analyzer renews a Project's aliases, which it cannot
    // do for the custom node's output (the optimizer drops the alias
    // again wherever no self-join needs it)
    GraftPlanBridge.ofRows(spark, Project(node.output.init :+ Alias(rank, "rank")(), node))
  }
}

/** Logical node: output = child output ++ `rank`, the (group, order, k)
  * contract the strategy lowers. */
case class BoundedTopKNode(
    group: Seq[Expression], order: Seq[SortOrder], k: Int, rank: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override protected def withNewChildInternal(newChild: LogicalPlan): BoundedTopKNode =
    copy(child = newChild)
}

/** Lowers the logical node to the two-phase physical pair; the final's
  * distribution and ordering requirements make EnsureRequirements place
  * the single exchange and the sort. */
object BoundedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BoundedTopKNode(group, order, k, rank, child) =>
      BoundedTopKFinalExec(group, order, k, rank,
        BoundedTopKPartialExec(group, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Map-side phase: one k-capped binary max-heap per group key (heap
  * head = worst kept row); a new row replaces the head only if it sorts
  * strictly earlier. At most [[BoundedTopK.FlushRows]] rows are resident:
  * reaching the budget emits and clears every heap. */
case class BoundedTopKPartialExec(
    group: Seq[Expression], order: Seq[SortOrder], k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val childOutput = child.output
    val kk = k
    val budget = BoundedTopK.FlushRows
    val numOutputRows = longMetric("numOutputRows")
    // LazilyGeneratedOrdering is serializable and codegens per executor;
    // UnsafeProjection is NOT serializable — create it inside the task
    val ord = new LazilyGeneratedOrdering(order, childOutput)
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val outProj = UnsafeProjection.create(childOutput, childOutput)
      var heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var resident = 0
      def offer(row: InternalRow): Unit = {
        val key = keyProj(row) // reused buffer; content-hashed lookups work
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < kk) { heap.enqueue(row.copy()); resident += 1 }
            else if (ord.compare(row, heap.head) < 0) {
              heap.dequeue(); heap.enqueue(row.copy())
            }
          case None =>
            val heap = mutable.PriorityQueue.empty[InternalRow](ord)
            heap.enqueue(row.copy())
            heaps.put(key.copy(), heap)
            resident += 1
        }
      }
      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        // refill only once the previous flush is drained, so at most one
        // budget's worth of rows is ever held
        override def hasNext: Boolean = out.hasNext || {
          while (resident < budget && iter.hasNext) offer(iter.next())
          val full = heaps
          heaps = mutable.HashMap.empty
          resident = 0
          out = full.valuesIterator.flatMap(_.iterator)
          out.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          numOutputRows += 1
          outProj(out.next())
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BoundedTopKPartialExec =
    copy(child = newChild)
}

/** Merge phase over group-clustered, (group ++ order)-sorted input:
  * streams each group, keeps its first k rows and appends their rank.
  * Holds only the current group key. */
case class BoundedTopKFinalExec(
    group: Seq[Expression], order: Seq[SortOrder], k: Int, rank: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(group) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (group.map(SortOrder(_, Ascending)) ++ order) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val childOutput = child.output
    val out = output
    val kk = k
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val outProj = UnsafeProjection.create(out, out)
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      var current: UnsafeRow = null
      var n = 0
      // filter advances `n` for the row it hands to map, which consumes
      // that row before the next one is pulled
      iter.filter { row =>
        val key = keyProj(row)
        if (current != null && key == current) n += 1
        else { current = key.copy(); n = 1 }
        n <= kk
      }.map { row =>
        rankRow.setInt(0, n)
        numOutputRows += 1
        outProj(joined(row, rankRow))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BoundedTopKFinalExec =
    copy(child = newChild)
}
