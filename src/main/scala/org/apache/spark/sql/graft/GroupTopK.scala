// Hosted under org.apache.spark.sql.* — planner/exec surfaces
// (mapPartitionsInternal, ClusteredDistribution, UnsafeProjection
// binding) are private[spark]/private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Logical per-group top-k: the first `k` rows of each group under
  * `order` (row_number semantics — give `order` a total order for
  * deterministic results).
  *
  * Why a custom operator (extension tier (c), SURVEY.md §2.2): Spark
  * plans this as window rank = shuffle ALL rows + full sort per
  * partition + filter. [[GroupTopKExec]] keeps a bounded heap per
  * group instead — O(n log k) with no sort — and runs TWICE: a
  * partial pass before the exchange (map-side, like partial
  * aggregation) so only ≤ k rows per (group, input partition) are
  * shuffled, then a final pass after. At 100 TB with k=5 that is the
  * difference between shuffling the table and shuffling a rounding
  * error of it. */
case class GroupTopK(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan
) extends UnaryNode {
  require(k >= 1)
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopK =
    copy(child = newChild)
}

/** Physical two-phase top-k per group.
  *
  * Partial phase (`partial = true`, any partitioning): bounded heap
  * per group, O(#groups-per-partition × k) resident — and like Spark's
  * partial hash aggregate it FLUSHES when the group map exceeds
  * `flushGroups` (conf `spark.graft.topk.partialFlushGroups`),
  * trading shuffle volume (≤ k extra rows per flushed group) for a
  * hard memory bound.
  *
  * Final phase: requires clustering on the group keys AND ordering on
  * (group, order) — EnsureRequirements inserts a SortExec, which
  * spills through Spark's UnsafeExternalSorter when the (already
  * partial-pruned, ≤ k × map-partitions rows per group) shuffled data
  * outgrows memory. The phase itself is then a STREAMING first-k-per-
  * group scan: O(k) resident rows regardless of how many groups land
  * in a partition — the spill-aware hardening a heap-per-group final
  * could not give. */
case class GroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    flushGroups: Int,
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil else ClusteredDistribution(groupExprs) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(groupExprs.map(SortOrder(_, Ascending)) ++ order)
  override def outputOrdering: Seq[SortOrder] =
    if (partial) child.outputOrdering
    else groupExprs.map(SortOrder(_, Ascending)) ++ order
  override def nodeName: String = if (partial) "GraftGroupTopKPartial" else "GraftGroupTopKFinal"

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numGroups" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of groups"),
    "numFlushes" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of partial flushes"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val groupLocal = groupExprs
    val orderLocal = order
    val attrs = child.output
    val partialLocal = partial
    val flushLocal = flushGroups
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")
    val numFlushes = longMetric("numFlushes")
    if (!partialLocal) {
      // final phase: child is sorted on (group, order) — stream the
      // first k rows of each group, O(k) memory, spill handled by the
      // upstream SortExec
      return child.execute().mapPartitionsInternal { iter =>
        val keyProj = UnsafeProjection.create(groupLocal, attrs)
        var current: UnsafeRow = null
        var emitted = 0
        iter.filter { row =>
          val key = keyProj(row)
          if (current == null || key != current) {
            current = key.copy()
            emitted = 0
            numGroups += 1
          }
          if (emitted < kLocal) {
            emitted += 1
            numOutputRows += 1
            true
          } else false
        }
      }
    }
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(groupLocal, attrs)
      // RowOrdering.create compiles a codegen comparator when the
      // factory mode allows (default), falling back to interpreted
      val ord = RowOrdering.create(orderLocal, attrs)
      val heaps = scala.collection.mutable.HashMap.empty[UnsafeRow, BoundedMaxHeap]

      def drain(): Iterator[InternalRow] = {
        numGroups += heaps.size
        // snapshot the heap objects so the map can be cleared while
        // the drain iterator is still being consumed
        val snapshot = heaps.values.toArray
        heaps.clear()
        snapshot.iterator.flatMap { h => numOutputRows += h.size; h.iterator }
      }

      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        private var exhausted = false
        private def fill(): Unit = {
          while (!out.hasNext && !exhausted) {
            var flushed = false
            while (!flushed && iter.hasNext) {
              val row = iter.next()
              val key = keyProj(row)
              // probe with the projection's REUSED buffer row (UnsafeRow
              // hashes/compares its bytes); copy the key only when the
              // group is first seen — not once per input row
              val heap = heaps.get(key) match {
                case Some(h) => h
                case None =>
                  val h = new BoundedMaxHeap(kLocal, ord)
                  heaps.put(key.copy(), h)
                  h
              }
              heap.offer(row)
              if (partialLocal && heaps.size >= flushLocal) {
                flushed = true
                numFlushes += 1
              }
            }
            if (!iter.hasNext && !flushed) exhausted = true
            out = drain()
          }
        }
        override def hasNext: Boolean = { fill(); out.hasNext }
        override def next(): InternalRow = { fill(); out.next() }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)
}

/** Fixed-capacity binary max-heap of the k smallest rows under `ord`
  * (heap root = current worst keeper). Replaces
  * `mutable.PriorityQueue`: a flat pre-sized array (no growth, no
  * ArrayBuffer indirection), rows copied only when actually KEPT, and
  * a single comparator call rejects a non-qualifying row once the
  * heap is full — the partial phase's per-row hot path. */
final class BoundedMaxHeap(k: Int, ord: Ordering[InternalRow]) {
  private[this] val rows = new Array[InternalRow](k)
  private[this] var n = 0

  def size: Int = n

  /** Keep `row` if it is among the k smallest so far. Copies lazily —
    * callers pass the iterator's reused row. */
  def offer(row: InternalRow): Unit = {
    if (n < k) {
      rows(n) = row.copy()
      n += 1
      // sift up
      var i = n - 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (ord.compare(rows(i), rows(p)) > 0) {
          val t = rows(i); rows(i) = rows(p); rows(p) = t
          i = p
        } else i = 0
      }
    } else if (ord.compare(row, rows(0)) < 0) {
      rows(0) = row.copy()
      // sift down
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < n && ord.compare(rows(l), rows(m)) > 0) m = l
        if (r < n && ord.compare(rows(r), rows(m)) > 0) m = r
        if (m == i) done = true
        else {
          val t = rows(i); rows(i) = rows(m); rows(m) = t
          i = m
        }
      }
    }
  }

  def iterator: Iterator[InternalRow] = rows.iterator.take(n)
}

/** Planner strategy: GroupTopK → partial exec → (exchange inserted by
  * EnsureRequirements) → final exec. */
object GroupTopKStrategy extends SparkStrategy {
  /** Partial-phase flush threshold (#groups held per partition before
    * emitting early). Read at planning time from the session conf. */
  val FlushConfKey = "spark.graft.topk.partialFlushGroups"
  val FlushDefault = 1 << 18 // 262144 groups × k rows per partition

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopK(groupExprs, order, k, child) =>
      val flushGroups = org.apache.spark.sql.internal.SQLConf.get
        .getConfString(FlushConfKey, FlushDefault.toString).toInt
      GroupTopKExec(groupExprs, order, k, partial = false, flushGroups,
        GroupTopKExec(groupExprs, order, k, partial = true, flushGroups, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Public facade: build the logical node from Columns (unresolved —
  * the analyzer resolves them against the child like any built-in). */
object GraftPlans {

  /** Eagerly convert a Column to a catalyst expression.
    * ExpressionUtils.expression returns a lazy ColumnNodeExpression
    * wrapper that only converts inside built-in API paths; custom
    * logical nodes need the real tree up front. */
  private def toExpr(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  def groupTopK(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val sortOrder = order.map(c => toExpr(c) match {
      case s: SortOrder => s
      case e            => SortOrder(e, Ascending)
    })
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    Dataset.ofRows(ds.sparkSession,
      GroupTopK(keys.map(toExpr), sortOrder, k, ds.logicalPlan))
  }

  /** Claim `ck` (a checkpoint of `orig`) hash-partitioned on `keys`
    * ONLY IF `orig`'s executed physical plan actually left its rows
    * laid out as a plain `HashPartitioning(keys, n)` — i.e. the claim
    * is read off the executed plan, never asserted blind. Returns `ck`
    * unwrapped when the layout is anything else (coalesced shuffle
    * read, different key, round-robin, …), so callers can claim
    * opportunistically: a plan that happens to preserve the layout
    * (e.g. broadcast semi-joins over an already-clustered frame) keeps
    * its claim; one that re-partitioned simply loses it. This is the
    * only constructor of a [[ClaimHashPartitioned]] node. MUST be
    * called after `orig`'s plan ran — under AQE the final plan only
    * exists after its shuffle stages executed, which a local
    * checkpoint (lazy or eager) of `orig` has already done. */
  def claimIfHashPartitioned(ck: DataFrame, orig: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, SinglePartition}
    val origOut = orig.queryExecution.analyzed.output
    val attrs = keys.map(k => origOut.find(a => orig.sparkSession.sessionState.conf.resolver(a.name, k)))
    if (attrs.exists(_.isEmpty)) return ck
    val want = attrs.map(_.get)
    def matches(p: Partitioning): Option[Int] = p match {
      case h: HashPartitioning
        if h.expressions.length == want.length &&
          h.expressions.zip(want).forall { case (e, a) => e.semanticEquals(a) } =>
        Some(h.numPartitions)
      case c: PartitioningCollection =>
        c.partitionings.flatMap(matches(_)).headOption
      // one partition holds every row, as HashPartitioning(keys, 1)
      // would place them (Spark plans repartition(1, keys) this way)
      case SinglePartition => Some(1)
      case _ => None
    }
    // AdaptiveSparkPlanExec reports UnknownPartitioning at the root;
    // the layout lives on the final (post-execution) inner plan
    val plan = orig.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    matches(plan.outputPartitioning) match {
      case Some(n) =>
        val ds = ck.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
        Dataset.ofRows(ds.sparkSession,
          ClaimHashPartitioned(keys.map(k => toExpr(ck(k))), n, ds.logicalPlan))
      case None => ck
    }
  }

  def register(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    ext.injectPlannerStrategy(_ => ClaimHashPartitionedStrategy)
  }
}
