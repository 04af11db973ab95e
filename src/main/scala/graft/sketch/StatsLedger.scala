package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus accounting: one small summary row per
  * (crawl drop, group) instead of rescanning the whole corpus for
  * every "how big is it now" question.
  *
  * The additive stats (doc counts, token sums) just sum across drops
  * — but distinct counts don't (the same document/url/key recurs
  * across drops), and at 100 TB a `countDistinct` over the full
  * corpus is exactly the rescan this ledger exists to avoid. So each
  * drop's summary carries the HLL REGISTER BLOB ([[Sketches.HllSketch]],
  * 2^p bytes per group), and the read side merges blobs element-wise-
  * max: union-of-sketches ≡ sketch-of-union exactly, so the merged
  * estimate is bit-identical to the estimate a full-corpus
  * aggregation would produce — verified per query in
  * [[graft.queries.SketchQueries]] (q_stats_ledger) and algebraically
  * in SketchSpec.
  *
  * Scale shape: a drop summary is one partial-aggregate pass over the
  * drop (map-side combine; per-group state is O(2^p) bytes, not
  * O(rows)); the ledger table grows by #groups rows per drop and the
  * whole-corpus rollup reads ONLY the ledger — cost proportional to
  * drops × groups, independent of corpus size. Same design family as
  * the persisted MinHash band index (build once, probe per drop).
  */
object StatsLedger {

  /** Per-group summary of one drop: (group, n_docs, total_tokens,
    * key_sketch, drop_id). `key` is the identity whose corpus-wide
    * distinct count the ledger must answer (doc id, url, content
    * fingerprint — any expression); hashing happens here so the
    * sketch input is already uniform bits. */
  def dropSummary(drop: DataFrame, dropId: String, group: Column,
      key: Column, tokens: Column, p: Int = 12): DataFrame =
    drop.groupBy(group.as("group"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokens.cast("bigint")).as("total_tokens"),
        Sketches.hllSketch(xxhash64(key), p).as("key_sketch"))
      .withColumn("drop_id", lit(dropId))

  /** Append a drop's summary to the ledger table, IDEMPOTENT per
    * drop id: the write is a dynamic partition overwrite on drop_id,
    * so retrying a failed ingestion (or replaying a crashed streaming
    * micro-batch that appends under `s"batch-$id"` — the
    * [[graft.streaming.EventStreams.eachBatch]] contract) rewrites
    * exactly that drop's partition instead of appending a duplicate
    * summary. Distinct drops never touch each other's partitions. */
  def append(path: String, summary: DataFrame): Unit =
    graft.sources.PartitionedFiles.overwritePartitions(summary, path, Seq("drop_id"))

  /** Whole-corpus rollup from summaries alone: additive stats sum,
    * sketches merge. Works on any union of [[dropSummary]] frames —
    * [[corpusStats]] is the persisted-ledger entry point. */
  def merge(summaries: DataFrame, p: Int = 12): DataFrame =
    summaries.groupBy("group")
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).as("total_tokens"),
        Sketches.hllMergeEstimate(col("key_sketch"), p).as("distinct_keys_est"),
        countDistinct(col("drop_id")).as("n_drops"))

  def corpusStats(spark: SparkSession, path: String, p: Int = 12): DataFrame =
    merge(spark.read.parquet(path), p)
}
