package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.LongType

/** Session-scoped registry of the storage blocks pinned by
  * operator-internal eager local checkpoints.
  *
  * Iterative operators (connected components, PageRank, Lloyd) must
  * cut lineage with an eager `localCheckpoint` or their plans grow
  * with the iteration count — but a local checkpoint pins its blocks
  * until driver GC, and across a long session the accumulation
  * degrades every later query (measured: a 142-query bench ran 1.5×
  * slower than the same queries isolated; see SURVEY §5). This
  * registry closes the loop:
  *
  *  - inside an iteration, a superseded round's blocks are released
  *    the moment the next round is materialized ([[release]]), so a
  *    k-round algorithm pins one round's blocks, not k;
  *  - the blocks that must outlive the operator call (they back the
  *    returned lazy plan) stay registered, and the harness — Verify,
  *    Bench, or any long-running caller — drops them between queries
  *    with [[releaseAll]].
  *
  * Releasing is only safe once the consuming query's results are
  * materialized: a checkpointed plan has no lineage to recompute
  * from, so re-executing a released DataFrame fails. That is the
  * contract: `releaseAll()` marks a query boundary.
  *
  * There is one way to materialize: [[eagerCount]] (checkpoint + the
  * row count its own job yields, + an optional partitioning claim
  * verified against the executed plan); [[eagerSum]] yields a column
  * sum from that job instead, and [[eager]] is the same call without
  * the count.
  */
object Checkpoints {
  // WEAK keys: the registry is an eager-release accelerator, not an
  // ownership root. A long-lived library caller that never reaches a
  // releaseAll() boundary must not accumulate pinned blocks forever —
  // once the caller drops its last reference to a checkpointed frame,
  // the RDD becomes weakly reachable, the entry evaporates, and
  // Spark's ContextCleaner unpersists the blocks exactly as it would
  // have for a bare localCheckpoint. releaseAll() stays the eager
  // path for harnesses that mark query boundaries explicitly.
  private val tracked: java.util.Map[RDD[_], java.lang.Boolean] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[RDD[_], java.lang.Boolean]())

  /** Materialize `df` as a local checkpoint whose blocks are
    * registered for release at the next query boundary, and return it
    * with its ROW COUNT. The count is free: the checkpoint is marked
    * lazily and `count()` on its own RDD is the one job that
    * materializes it — the same single job Spark's eager path runs,
    * where a `Dataset.count()` on the checkpoint would plan a fresh
    * aggregate over it and pay another (guide §1.2).
    *
    * `claim` names the keys that later joins / aggregates use. When
    * the executed plan of `df` left its rows as exactly
    * `HashPartitioning(claim, n)` — `repartition(n, claim)` below the
    * checkpoint, or a plan that kept such a layout — the result
    * carries that claim through the lineage cut
    * ([[org.apache.spark.sql.graft.ClaimHashPartitioned]]), so keyed
    * operators downstream do not re-exchange it. Any other layout
    * (AQE-coalesced read, round-robin, other keys, a missing column)
    * returns the plain checkpoint: the claim is read off the plan,
    * never asserted. Nothing is repartitioned here — put
    * `repartition(n, keys)` where it replaces an exchange the plan
    * would insert anyway (below a distinct / aggregate on the same
    * keys), never on top of one. */
  def eagerCount(df: DataFrame, claim: Seq[String] = Nil): (DataFrame, Long) =
    materialize(df, claim)(_.count())

  /** [[eagerCount]] returning the sum of the LONG column `column`
    * (nulls count 0) instead of the row count — a mass over the rows,
    * such as the number of rows flagged 1, read in the same single
    * materializing job. */
  def eagerSum(df: DataFrame, column: String, claim: Seq[String] = Nil): (DataFrame, Long) = {
    val i = df.schema.fieldIndex(column)
    require(df.schema(i).dataType == LongType,
      s"eagerSum: column $column is ${df.schema(i).dataType.simpleString}, not bigint")
    materialize(df, claim)(_.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).fold(0L)(_ + _))
  }

  // the one materializing body: `job` runs on the checkpoint's own RDD,
  // so its one job computes (and pins) every partition
  private def materialize(df: DataFrame, claim: Seq[String])(
      job: RDD[InternalRow] => Long): (DataFrame, Long) = {
    val ck = df.localCheckpoint(eager = false)
    val rdd = org.apache.spark.sql.graft.CheckpointBlocks.rddOf(ck)
      .getOrElse(sys.error("a local checkpoint is not a LogicalRDD scan"))
    tracked.put(rdd, java.lang.Boolean.TRUE)
    val n = job(rdd.asInstanceOf[RDD[InternalRow]])
    val out =
      if (claim.isEmpty) ck
      else org.apache.spark.sql.graft.GraftPlans.claimIfHashPartitioned(ck, df, claim)
    (out, n)
  }

  /** [[eagerCount]] without the count — drop-in for
    * `df.localCheckpoint(true)` in library operators. */
  def eager(df: DataFrame, claim: Seq[String] = Nil): DataFrame = eagerCount(df, claim)._1

  // A tracked RDD can outlive its SparkContext (test harnesses stop
  // and rebuild sessions); the blocks died with the context, so
  // skipping is the correct outcome. The isStopped guard handles the
  // common case; the catch covers only the guard-to-unpersist race
  // (context stopping concurrently throws IllegalStateException from
  // assertNotStopped). Anything else — an NPE from a live
  // BlockManager path included — is a real bug and propagates.
  private def unpersistQuietly(r: RDD[_]): Unit =
    if (!r.sparkContext.isStopped) {
      try r.unpersist(blocking = false)
      catch { case _: IllegalStateException => () }
    }

  /** Release the blocks behind a checkpoint produced by [[eager]]
    * right now — for loop intermediates superseded by the next
    * materialized round. No-op on non-checkpoint DataFrames, so loop
    * seeds can be passed unconditionally. */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graft.CheckpointBlocks.rddOf(df).foreach { r =>
      if (tracked.remove(r) != null) unpersistQuietly(r)
    }

  /** Release every outstanding operator checkpoint (query boundary).
    * Returns the number of block sets released.
    *
    * JVM-global by design — a boundary declares "no in-flight plan
    * still reads an operator checkpoint". Callers running queries
    * CONCURRENTLY (e.g. a streaming foreachBatch next to a batch
    * session) must not call this mid-flight; use [[release]] on the
    * frames they own instead. */
  def releaseAll(): Int = {
    // snapshot under the map's lock (synchronizedMap iteration
    // contract), unpersist outside it — unpersist talks to the
    // BlockManager and must not hold the registry lock
    val snapshot = {
      val s = new java.util.ArrayList[RDD[_]]()
      tracked.synchronized {
        s.addAll(tracked.keySet())
        tracked.clear()
      }
      s
    }
    snapshot.forEach(unpersistQuietly(_))
    snapshot.size()
  }

  /** Outstanding operator checkpoints (diagnostics / tests). */
  def pendingCount: Int = tracked.size
}
