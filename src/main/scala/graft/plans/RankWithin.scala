package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Exact positions within groups, planned by [[TopKStrategy]] as
  * [[RankWithinExec]]. `step` Some(v): `__rwout` is the EXCLUSIVE prefix
  * sum of the long `v` (NULL adds 0) in (groups, order) order — a row
  * number is the prefix count of 1 — and `__rwtot` the group sum (NULL
  * when no `v` is set). `step` None: `__rwout` is the 1-based DENSE rank
  * of the order key and `__rwtot` the distinct key count. No groups is
  * one group.
  */
case class RankWithin(groups: Seq[Expression], order: Seq[SortOrder],
    step: Option[Expression], child: LogicalPlan,
    // constructor params so tree copies preserve the exprIds
    outAttr: AttributeReference =
      AttributeReference("__rwout", LongType, nullable = false)(),
    totalAttr: AttributeReference = AttributeReference("__rwtot", LongType)())
    extends UnaryNode {
  def produced: Seq[Attribute] = Seq(outAttr,
    totalAttr.withNullability(step.exists(s => !s.resolved || s.nullable)))
  override def output: Seq[Attribute] = child.output ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override protected def withNewChildInternal(c: LogicalPlan): RankWithin =
    copy(child = c)
}

/** The child is range-distributed and sorted on (groups, order): ONE
  * range exchange and one sort, and partition i orders wholly before
  * partition i+1, so no task holds a whole group. Pass 1 (one job) sums
  * the step over each partition's group runs; the driver chains the runs
  * into offsets and group totals and broadcasts them; pass 2 walks the
  * same partitions and adds the offsets — Spark's `RDD.zipWithIndex`
  * pattern. Both passes read one shuffle, so no result depends on
  * exchange reuse, AQE or the partition count. */
case class RankWithinExec(groups: Seq[Expression], order: Seq[SortOrder],
    step: Option[Expression], produced: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  private def keys = groups.map(SortOrder(_, Ascending)) ++ order
  override def output: Seq[Attribute] = child.output ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = keys :: Nil
  override protected def doExecute(): RDD[InternalRow] = {
    val (nGroups, ks, st, in, out) = (groups.length, keys, step, child.output, output)
    val walker = () => new RunWalker(nGroups, ks, st, in)
    val rows = child.execute()
    val runs = sparkContext.runJob(rows, (it: Iterator[InternalRow]) => walker().runs(it))
    val table = sparkContext.broadcast(walker().offsets(runs))
    rows.mapPartitionsWithIndex((i, it) => walker().ranked(it, table.value(i), out))
  }
  override protected def withNewChildInternal(c: SparkPlan): RankWithinExec =
    copy(child = c)
}

/** One walk over a sorted partition: each row's group run and step sums. */
private final class RunWalker(nGroups: Int, keys: Seq[SortOrder],
    step: Option[Expression], input: Seq[Attribute]) {
  private val MaxRuns = 1 << 22 // a run is a group's slice of one partition
  // two alternating key buffers: the previous key needs no copy
  private val keyProj = Array.fill(2)(UnsafeProjection.create(keys.map(_.child), input))
  private def equalOn(os: Seq[SortOrder]): (InternalRow, InternalRow) => Boolean = {
    val ord = GenerateOrdering.generate(os.zipWithIndex.map { case (o, i) =>
      o.copy(child = BoundReference(i, o.dataType, o.nullable)) }, Nil)
    (a, b) => ord.compare(a, b) == 0
  }
  private val (sameGroup, sameKey) = (equalOn(keys.take(nGroups)), equalOn(keys))
  private val value = step.map(e => UnsafeProjection.create(Seq(e), input))
  private var rows = 0L
  private var prev, cur: UnsafeRow = null
  private var run = -1
  private var before, through = 0L
  private var valued = false

  private def advance(row: InternalRow): Unit = {
    prev = cur
    cur = keyProj((rows & 1).toInt)(row)
    rows += 1
    val newRun = prev == null || !sameGroup(prev, cur)
    if (newRun) { run += 1; through = 0L; valued = value.isEmpty }
    before = through
    value match {
      case None => if (newRun || !sameKey(prev, cur)) through += 1
      case Some(v) =>
        val x = v(row)
        if (!x.isNullAt(0)) { through += x.getLong(0); valued = true }
    }
  }

  /** Pass 1: per run (step sum, value seen); the first and last key. */
  def runs(it: Iterator[InternalRow]): (Array[(Long, Boolean)], UnsafeRow, UnsafeRow) = {
    val sums = ArrayBuffer.empty[(Long, Boolean)]
    var first: UnsafeRow = null
    it.foreach { row =>
      val (t, v) = (through, valued) // the open run's sums, before this row
      advance(row)
      if (first == null) first = cur.copy() else if (run > sums.length) sums += ((t, v))
    }
    if (cur == null) (Array.empty, null, null)
    else ((sums += ((through, valued))).toArray, first, cur.copy())
  }

  /** Driver: per partition, each run's offset and group total (null: no
    * value). A partition's first run continues the last run before it
    * when their groups agree; a dense rank counts a shared key once. */
  def offsets(parts: Array[(Array[(Long, Boolean)], UnsafeRow, UnsafeRow)])
      : Array[Array[(Long, java.lang.Long)]] = {
    val n = parts.map(_._1.length.toLong).sum
    if (n > MaxRuns) throw new IllegalStateException(
      s"RankWithin: $n group runs exceed the driver bound $MaxRuns")
    val (totals, seen) = (ArrayBuffer.empty[Long], ArrayBuffer.empty[Boolean])
    var last: UnsafeRow = null
    val placed = parts.map { case (sums, first, lastKey) =>
      val offs = sums.indices.map { j =>
        val continues = j == 0 && last != null && sameGroup(last, first)
        if (!continues) { totals += 0L; seen += false }
        val g = totals.length - 1
        val shared = continues && value.isEmpty && sameKey(last, first)
        val off = totals(g) - (if (shared) 1 else 0)
        totals(g) = off + sums(j)._1
        seen(g) |= sums(j)._2
        (off, g)
      }
      if (lastKey != null) last = lastKey
      offs
    }
    placed.map(_.map { case (off, g) =>
      (off, if (seen(g)) Long.box(totals(g)) else null) }.toArray)
  }

  /** Pass 2: every row with its position and its group's total. */
  def ranked(it: Iterator[InternalRow], table: Array[(Long, java.lang.Long)],
      output: Seq[Attribute]): Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(output, output)
    val (extra, joined) = (new GenericInternalRow(2), new JoinedRow)
    it.map { row =>
      advance(row)
      val (off, total) = table(run)
      extra.setLong(0, off + (if (value.isEmpty) through else before))
      if (total == null) extra.setNullAt(1) else extra.setLong(1, total)
      proj(joined(row, extra))
    }
  }
}
