package graft.plans

import java.util.{Comparator, PriorityQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, Descending,
  Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator Catalyst extension: top-k rows per group under a total
  * order, as a first-class `LogicalPlan` + `SparkStrategy` + `SparkPlan`
  * (the build contract's option (c) — used when composing built-ins can't
  * express the *physical* semantics we want).
  *
  * Spark's declarative spelling (`row_number() OVER (PARTITION BY g ORDER BY
  * o) <= k`) shuffles **every** row of the table and then **sorts every
  * group in full** before discarding all but k rows. This operator plans the
  * aggregation-shaped physical strategy instead:
  *
  *   partial TopKExec (bounded heaps, map-side)  →  shuffle on the group
  *   key — carrying at most k rows per (partition, group)  →  final TopKExec
  *   (heap merge, rank emission)
  *
  * i.e. the `TakeOrderedAndProject` trick generalized per group. At 100 TB
  * the difference is the shuffle writing k·|groups| rows instead of the
  * whole table, and no O(n log n) per-group sort — only O(n log k) heap
  * maintenance fused into the scan pass. Same shape as a partial/final
  * aggregate, so AQE still handles skewed groups by splitting reducer
  * partitions.
  *
  * Rank semantics are `row_number` (the ordering must be a total order —
  * callers append a unique tiebreaker column, exactly as they must for a
  * deterministic window query). Registered cluster-wide by
  * [[graft.GraftExtensions]]; [[TopKPerGroup.install]] is the live-session
  * hook (`spark.experimental.extraStrategies`).
  */
case class TopKPerGroupPlan(
    grouping: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan,
    maxGroupsInFlight: Int = 1 << 17) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  require(maxGroupsInFlight > 0, "maxGroupsInFlight must be positive")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(grouping, ordering, k, rankAttr, child, maxGroups) =>
      TopKPerGroupExec(grouping, ordering, k, Some(rankAttr),
        TopKPerGroupExec(grouping, ordering, k, None, planLater(child), maxGroups)) :: Nil
    case _ => Nil
  }
}

/** One phase of the two-phase top-k. `rankAttr = None` is the partial
  * (map-side) phase: any input distribution, emits its local top-k rows per
  * group. `rankAttr = Some(_)` is the final phase: requires clustering on
  * the group key, merges the partial heaps and emits ranks 1..k.
  *
  * Memory: the partial phase bounds its in-flight state at
  * `maxGroupsInFlight` k-bounded heaps — when a new group would exceed the
  * cap, the current heaps are FLUSHED to the output and state restarts
  * (correct because the final phase merges duplicate per-group batches;
  * the cost of a flush is only lost pre-aggregation, exactly like a partial
  * hash aggregate falling back to pass-through on an overfull hash map).
  * The final phase holds one partition's k·|groups-in-partition| output
  * rows — the operator's own result size, strictly less state than the
  * window sort it replaces. */
case class TopKPerGroupExec(
    grouping: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    rankAttr: Option[Attribute],
    child: SparkPlan,
    maxGroupsInFlight: Int = 1 << 17) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)
  override def requiredChildDistribution: Seq[Distribution] =
    if (rankAttr.isDefined) ClusteredDistribution(grouping) :: Nil
    else UnspecifiedDistribution :: Nil
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val groupingExprs = grouping
    val sortOrder = ordering
    val limit = k
    val childOutput = child.output
    val rankedOutput = output
    val emitRank = rankAttr.isDefined
    val maxGroups = if (emitRank) Int.MaxValue else maxGroupsInFlight
    child.execute().mapPartitions ({ iter =>
      val keyProj = UnsafeProjection.create(groupingExprs, childOutput)
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      // compare(a, b) < 0  ⇔  a ranks before b under the requested order
      val ord = GenerateOrdering.generate(sortOrder, childOutput)
      // min-heap on the REVERSED order: the head is the worst row kept, so
      // admission is one compare against the head
      val worstFirst = new Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = ord.compare(b, a)
      }
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, PriorityQueue[UnsafeRow]]

      def admit(heap: PriorityQueue[UnsafeRow], row: UnsafeRow): Unit =
        if (heap.size < limit) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      // drains current state to a materialized batch (rows are already
      // defensive copies) and resets
      def drain(): Iterator[UnsafeRow] = {
        val rows = heaps.valuesIterator.flatMap(_.iterator().asScala).toArray
        heaps.clear()
        rows.iterator
      }
      // consume input until a flush is forced or input ends; returns the
      // batch to emit (empty only when input and state are both exhausted)
      def nextBatch(): Iterator[UnsafeRow] = {
        while (iter.hasNext) {
          val row = toUnsafe(iter.next())
          val key = keyProj(row)
          heaps.get(key) match {
            case Some(heap) => admit(heap, row)
            case None =>
              if (heaps.size >= maxGroups) {
                val flushed = drain()
                val heap = new PriorityQueue[UnsafeRow](limit, worstFirst)
                heap.add(row.copy())
                heaps.put(key.copy(), heap)
                return flushed
              }
              val heap = new PriorityQueue[UnsafeRow](limit, worstFirst)
              heap.add(row.copy())
              heaps.put(key.copy(), heap)
          }
        }
        drain()
      }

      if (!emitRank) {
        new Iterator[InternalRow] {
          private var cur: Iterator[UnsafeRow] = Iterator.empty
          override def hasNext: Boolean = {
            while (!cur.hasNext && (iter.hasNext || heaps.nonEmpty)) cur = nextBatch()
            cur.hasNext
          }
          override def next(): InternalRow = { hasNext; cur.next() }
        }
      } else {
        // final phase: all of a group's rows are in this partition; single
        // pass, then rank each group's ≤k rows
        while (iter.hasNext) {
          val row = toUnsafe(iter.next())
          val key = keyProj(row)
          heaps.get(key) match {
            case Some(heap) => admit(heap, row)
            case None =>
              val heap = new PriorityQueue[UnsafeRow](limit, worstFirst)
              heap.add(row.copy())
              heaps.put(key.copy(), heap)
          }
        }
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        // emit UnsafeRows, like every other branch: a consumer without a
        // projection of its own (a collect, an exchange) casts to UnsafeRow
        val toRankedUnsafe = UnsafeProjection.create(rankedOutput, rankedOutput)
        heaps.valuesIterator.flatMap { heap =>
          val rows = heap.iterator().asScala.toArray.sorted(ord.on[UnsafeRow](identity))
          rows.iterator.zipWithIndex.map { case (row, i) =>
            rankRow.setLong(0, i + 1L)
            toRankedUnsafe(joined(row, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroup {
  /** Register the strategy on a live session (idempotent). Cluster deploys
    * get it from `spark.sql.extensions=graft.GraftExtensions` instead. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_ eq TopKPerGroupStrategy))
      spark.experimental.extraStrategies = cur :+ TopKPerGroupStrategy
  }

  /** Top-k rows per group of `df`. `order` columns are (name, ascending);
    * together they MUST form a total order (append a unique id as the last
    * tiebreaker) — that is what makes the result, and the rank column,
    * deterministic. The rank lands in a new LONG column `rankName`. */
  def topK(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rn",
      maxGroupsInFlight: Int = 1 << 17): DataFrame = {
    require(groupCols.nonEmpty,
      "topK needs at least one group column (global top-k is orderBy().limit() — TakeOrderedAndProject)")
    require(order.nonEmpty, "topK needs a total order — include a unique tiebreaker column")
    install(df.sparkSession)
    val child = GraftBridge.plan(df)
    def attr(name: String): Attribute =
      child.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${child.output.map(_.name).mkString(", ")}"))
    val ordering = order.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    GraftBridge.ofRows(df.sparkSession,
      TopKPerGroupPlan(groupCols.map(attr), ordering, k, rankAttr, child,
        maxGroupsInFlight))
  }
}
