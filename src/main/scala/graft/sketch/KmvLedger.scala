package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Persisted, MERGEABLE KMV registers per crawl drop — the
  * set-operation sibling of [[BloomLedger]] (membership) and
  * [[StatsLedger]] (counts): one bottom-k sketch row per drop, so
  * "how much does this incoming drop overlap the corpus we already
  * have" is answered from k-row summaries with ZERO corpus access.
  *
  * Mergeability is exact: a hash among the k smallest of a union is
  * among the k smallest of whichever drop contributed it, so the
  * k-min-distinct of the per-drop sketches' union IS the sketch of
  * the union — [[merged]] ≡ a direct sketch over all drops,
  * bit-for-bit (the union-of-sketches ≡ sketch-of-union contract the
  * other ledgers pin, spec-verified). Appends are idempotent per
  * drop id (dynamic partition overwrite, same contract as
  * [[StatsLedger.append]]).
  *
  * Scale shape: a drop summary is one map-side-combined aggregate
  * over the drop; the merged register is ≤ drops × k longs reduced
  * to k; [[overlapVsHistory]] broadcasts the single merged row
  * against a one-aggregate sketch of the batch — the whole screen
  * costs the batch scan.
  */
object KmvLedger {

  /** One summary row for a drop: the KMV sketch of the drop's
    * portable content hashes. Registers merge only across an
    * IDENTICAL k — [[merged]] refuses mixes. */
  def dropSummary(drop: DataFrame, dropId: String, text: Column,
      k: Int = 256): DataFrame =
    drop.agg(Sketches.kmv(Hashing.portableHash64(text), k).as("sketch"))
      .select(lit(dropId).as("drop_id"), lit(k).as("k"), col("sketch"))

  /** Idempotent per-drop append (dynamic partition overwrite on
    * drop_id — a retried ingestion rewrites its own partition). */
  def append(path: String, summary: DataFrame): Unit =
    graft.sources.PartitionedFiles.overwritePartitions(summary, path, Seq("drop_id"))

  /** Fold every drop's sketch into ONE (k, sketch) row: explode the
    * retained hashes and re-run the SAME aggregator — by the
    * subset-minimum argument above this equals the direct sketch of
    * the union exactly. Refuses mixed k configs. */
  def merged(ledger: DataFrame): DataFrame = {
    val ks = ledger.select("k").distinct().collect().map(_.getInt(0))
    require(ks.length == 1,
      s"KmvLedger.merged: mixed sketch sizes ${ks.mkString(", ")} — " +
        "rebuild the ledger with one k")
    ledger.select(explode(col("sketch")).as("h"))
      .agg(Sketches.kmv(col("h"), ks.head).as("sketch"))
      .select(lit(ks.head).as("k"), col("sketch"))
  }

  def mergedFrom(spark: SparkSession, path: String): DataFrame =
    merged(spark.read.parquet(path))

  /** Overlap of an incoming batch vs the merged history register:
    * sketch the batch (one aggregate), broadcast the one-row merged
    * register, emit the full [[Sketches.kmvSetAlgebra]] report plus
    * both distinct estimates — (common, union_n, est_overlap,
    * est_union, jacc_pm, est_batch, est_history). The fraction of a
    * drop that is already-seen mass, before paying for any exact
    * screen. */
  def overlapVsHistory(batch: DataFrame, text: Column,
      mergedSketch: DataFrame): DataFrame = {
    val k = mergedSketch.select("k").head().getInt(0)
    batch.agg(Sketches.kmv(Hashing.portableHash64(text), k).as("ska"))
      .crossJoin(broadcast(mergedSketch.select(col("sketch").as("skb"))))
      .select(Sketches.kmvSetAlgebra(col("ska"), col("skb"), k) :+
        Sketches.kmvDistinctEstimate(col("ska"), k).as("est_batch") :+
        Sketches.kmvDistinctEstimate(col("skb"), k).as("est_history"): _*)
  }
}
