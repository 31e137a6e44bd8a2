package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, GraftBridge}

/** Native top-k-per-key: the full custom-operator ladder —
  * LogicalPlan node → Strategy → physical partial/final execs — planned
  * like a partial aggregation: the PARTIAL exec truncates every input
  * partition to k rows per key *before* the exchange the FINAL exec's
  * required distribution inserts, so the shuffle moves at most
  * k × keys-per-partition rows instead of the whole input. Operates on
  * InternalRow with a codegen'd ordering (no encoder round-trips, which
  * a Dataset/mapPartitions formulation pays twice per row).
  *
  * Memory: the partial phase holds k rows per distinct key per open
  * partition, bounded by a key budget ([[TopKStrategy.MaxPartialKeys]]):
  * when a partition holds more distinct keys than the budget, the open
  * heaps are emitted and the phase restarts — emitting more than k rows
  * per key across flushes is harmless because the final phase
  * re-truncates after the shuffle, exactly like a partial aggregation
  * falling back to pass-through. The FINAL phase (post-shuffle) still
  * holds k rows per key in its partition with no spill, like a hash
  * aggregate; for adversarial total key cardinality at tiny memory
  * prefer the window formulation, whose sort spills.
  */
object TopKNative {

  /** Best-k rows per key with a `rank` column (1 = best). Registers the
    * planning strategy on the session (idempotent) and injects the logical
    * node directly.
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieCol: String, k: Int, descending: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty,
      "topKPerKey needs at least one key column (a global top-k is an orderBy+limit)")
    require(!df.columns.contains("rank"),
      "input already has a 'rank' column; rename it before topKPerKey")
    val spark = df.sparkSession
    ensureStrategy(spark)
    val keys = keyCols.map(c => GraftBridge.expression(df(c)))
    val ordering = Seq(
      SortOrder(GraftBridge.expression(df(orderCol)),
        if (descending) Descending else Ascending),
      SortOrder(GraftBridge.expression(df(tieCol)), Ascending))
    GraftBridge.dataFrame(spark,
      TopKPerKeyNode(keys, ordering, k, GraftBridge.logicalPlan(df)))
  }

  /** Register the planning strategy and the window-rewrite optimizer rule
    * on a live session (idempotent): Filter(row_number() <= k) over a
    * window is then planned as the bounded TopK operator automatically.
    */
  def enable(spark: org.apache.spark.sql.SparkSession): Unit = {
    ensureStrategy(spark)
    if (!spark.experimental.extraOptimizations.contains(TopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewrite
  }

  /** Remove the rewrite rule (the strategy stays; it only fires for
    * explicitly injected nodes).
    */
  def disableRewrite(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == TopKRewrite)

  private def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
}

case class TopKPerKeyNode(keys: Seq[Expression], ordering: Seq[SortOrder],
    k: Int, child: LogicalPlan,
    // constructor param so tree copies preserve the exprId
    rankAttr: AttributeReference =
      AttributeReference("rank", LongType, nullable = false)())
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rank is minted here, not derived from the child — without this the
  // analyzer checker reports it "missing from input".
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyNode =
    copy(child = c)
}

object TopKStrategy extends SparkStrategy {
  /** Distinct keys one partial-phase partition holds open before it
    * flushes its heaps. */
  val MaxPartialKeys = 262144

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: TopKPerKeyNode =>
      val partial = TopKPartialExec(n.keys, n.ordering, n.k, MaxPartialKeys,
        planLater(n.child))
      TopKFinalExec(n.keys, n.ordering, n.k, n.rankAttr, partial) :: Nil
    case _ => Nil
  }
}

/** Shared bounded-heap truncation over InternalRows. */
private[graft] object TopKRuntime {
  def localTopK(it: Iterator[InternalRow], keys: Seq[Expression],
      ordering: Seq[SortOrder], k: Int,
      input: Seq[Attribute]): Iterator[(InternalRow, mutable.PriorityQueue[InternalRow])] = {
    val keyProj = UnsafeProjection.create(keys, input)
    // best-first ordering: compare(a,b) < 0 when a is better
    val bestFirst = GenerateOrdering.generate(ordering, input)
    // heap keeps the WORST retained row on top
    val heapOrd: Ordering[InternalRow] =
      (a: InternalRow, b: InternalRow) => bestFirst.compare(a, b)
    val heaps = mutable.LinkedHashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]
    it.foreach { row =>
      val key = keyProj(row)
      val h = heaps.get(key) match {
        case Some(h) => h
        case None =>
          val h = mutable.PriorityQueue.empty[InternalRow](heapOrd)
          heaps.put(key.copy(), h)
          h
      }
      if (h.size < k) h.enqueue(row.copy())
      else if (bestFirst.compare(row, h.head) < 0) {
        h.dequeue(); h.enqueue(row.copy())
      }
    }
    heaps.iterator
  }

  /** Budgeted partial truncation: like `localTopK`, but the heap map never
    * holds more than `maxKeys` heaps — on overflow the open heaps are
    * emitted and truncation restarts with the overflowing row. A key seen
    * in several flush rounds emits up to k rows per round; the final phase
    * re-truncates, so the only cost of overflow is shuffle volume, never
    * correctness or memory.
    */
  def partialTopK(it: Iterator[InternalRow], keys: Seq[Expression],
      ordering: Seq[SortOrder], k: Int, maxKeys: Int,
      input: Seq[Attribute]): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keys, input)
    val bestFirst = GenerateOrdering.generate(ordering, input)
    val heapOrd: Ordering[InternalRow] =
      (a: InternalRow, b: InternalRow) => bestFirst.compare(a, b)

    new Iterator[InternalRow] {
      private var pending: InternalRow = null
      private var batch: Iterator[InternalRow] = Iterator.empty

      private def fill(): Unit = {
        if (pending == null && !it.hasNext) return
        val heaps =
          mutable.LinkedHashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]
        def insert(row: InternalRow, preCopied: Boolean): Boolean = {
          val key = keyProj(row)
          heaps.get(key) match {
            case Some(h) =>
              if (h.size < k) h.enqueue(if (preCopied) row else row.copy())
              else if (bestFirst.compare(row, h.head) < 0) {
                h.dequeue(); h.enqueue(if (preCopied) row else row.copy())
              }
              true
            case None if heaps.size < maxKeys =>
              val h = mutable.PriorityQueue.empty[InternalRow](heapOrd)
              heaps.put(key.copy(), h)
              h.enqueue(if (preCopied) row else row.copy())
              true
            case None => false // budget exhausted: flush this round
          }
        }
        if (pending != null) { insert(pending, preCopied = true); pending = null }
        var open = true
        while (open && it.hasNext) {
          val row = it.next()
          if (!insert(row, preCopied = false)) { pending = row.copy(); open = false }
        }
        batch = heaps.valuesIterator.flatMap(_.iterator)
      }

      override def hasNext: Boolean = {
        if (!batch.hasNext) fill()
        batch.hasNext
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        batch.next()
      }
    }
  }
}

case class TopKPartialExec(keys: Seq[Expression], ordering: Seq[SortOrder],
    k: Int, maxKeys: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { it =>
      TopKRuntime.partialTopK(it, keys, ordering, k, maxKeys, child.output)
    }
  override protected def withNewChildInternal(c: SparkPlan): TopKPartialExec =
    copy(child = c)
}

case class TopKFinalExec(keys: Seq[Expression], ordering: Seq[SortOrder],
    k: Int, rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(output, child.output :+ rankAttr)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      val bestFirst = GenerateOrdering.generate(ordering, child.output)
      TopKRuntime.localTopK(it, keys, ordering, k, child.output)
        .flatMap { case (_, heap) =>
          val sorted = heap.toSeq.sorted(Ordering.comparatorToOrdering(bestFirst))
          sorted.iterator.zipWithIndex.map { case (row, i) =>
            rankRow.setLong(0, i + 1L)
            proj(joined(row, rankRow))
          }
        }
    }
  override protected def withNewChildInternal(c: SparkPlan): TopKFinalExec =
    copy(child = c)
}
