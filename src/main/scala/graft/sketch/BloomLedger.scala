package graft.sketch

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Persisted, MERGEABLE Bloom registers per crawl drop — the
  * "have we ever seen this document before" screen a production
  * ingestion pipeline runs on every new drop (the Dolma-style Bloom
  * dedup, as a build-once artifact like the MinHash band index and
  * the HLL stats ledger).
  *
  * Each drop contributes ONE summary row: (drop_id, num_bits,
  * num_hashes, words) — the [[BloomFilter.BloomAgg]] bit array over
  * the drop's content keys. Bit arrays merge by element-wise OR, and
  * OR-of-blooms ≡ bloom-of-union EXACTLY (same hash scheme, same
  * bits), so screening a new drop against years of history reads
  * kilobytes of registers, never the corpus. Guarantees are the
  * Bloom classic: NO false negatives (a true duplicate always
  * flags), false positives at the usual (1−e^(−kn/m))^k rate —
  * [[screen]] exposes the flag for pipelines that accept the FP loss
  * (the 100 TB shape), [[novelExact]] confirms candidates against
  * the corpus keys for an exact result at the cost of a
  * candidates-only join.
  *
  * Scale shape: a drop summary is one map-side-combined aggregate
  * over the drop; the merged register is numBits/64 longs broadcast
  * to the screen scan; appends are idempotent per drop id (dynamic
  * partition overwrite, same contract as [[StatsLedger.append]]).
  */
object BloomLedger {

  /** One summary row for a drop: the Bloom bit array over
    * `xxhash64(key)`. Pick `numBits ≈ 10–16 × expected keys` for
    * ~1% FP; registers stay mergeable only across IDENTICAL
    * (num_bits, num_hashes) configs — [[merged]] refuses mixes. */
  def dropSummary(drop: DataFrame, dropId: String, key: Column,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame =
    drop.agg(BloomFilter.bloomAgg(xxhash64(key), numBits, numHashes).as("__b"))
      .select(lit(dropId).as("drop_id"),
        lit(numBits).as("num_bits"), lit(numHashes).as("num_hashes"),
        col("__b.words").as("words"))

  /** Idempotent per-drop append (dynamic partition overwrite on
    * drop_id — a retried ingestion rewrites its own partition). */
  def append(path: String, summary: DataFrame): Unit =
    graft.sources.PartitionedFiles.overwritePartitions(summary, path, Seq("drop_id"))

  /** Element-wise OR of every drop's register → ONE (num_bits,
    * num_hashes, words) row. Declarative: registers explode to
    * (word index, word), bit_or per index, reassemble in index
    * order. Refuses mixed configurations — a screen against
    * incompatible registers would silently miss duplicates. */
  def merged(ledger: DataFrame): DataFrame = {
    val cfgs = ledger.select("num_bits", "num_hashes").distinct().collect()
    require(cfgs.length == 1,
      s"BloomLedger.merged: mixed register configs ${cfgs.mkString(", ")} — " +
        "rebuild the ledger with one (num_bits, num_hashes)")
    ledger
      .select(col("num_bits"), col("num_hashes"),
        posexplode(col("words")).as(Seq("i", "w")))
      .groupBy("num_bits", "num_hashes", "i")
      .agg(expr("bit_or(w)").as("w"))
      .groupBy("num_bits", "num_hashes")
      .agg(expr("transform(array_sort(collect_list(struct(i, w))), s -> s.w)").as("words"))
  }

  def mergedFrom(spark: SparkSession, path: String): DataFrame =
    merged(spark.read.parquet(path))

  /** Approximate screen — the production shape: one broadcast of the
    * merged register, one scan of the batch; adds `might_seen`
    * (true ⇒ possibly in history, false ⇒ CERTAINLY novel). Zero
    * corpus access, zero shuffles. */
  def screen(batch: DataFrame, key: Column, mergedBloom: DataFrame): DataFrame = {
    val cfg = mergedBloom.select("num_bits", "num_hashes").head()
    val (bits, hashes) = (cfg.getInt(0), cfg.getInt(1))
    batch
      .crossJoin(broadcast(mergedBloom.select(col("words").as("__bloom"))))
      .withColumn("might_seen",
        BloomFilter.mightContain(col("__bloom"), xxhash64(key), bits, hashes))
      .drop("__bloom")
  }

  /** Exact novelty: Bloom-certain novels pass straight through; only
    * the `might_seen` candidates (true dups + the small FP mass) pay
    * the exact anti-join against the history keys. Result is exactly
    * "batch rows whose key is not in `corpus`" — the Bloom shapes the
    * plan, never the answer. */
  def novelExact(corpus: DataFrame, corpusKey: Column,
      batch: DataFrame, key: Column, mergedBloom: DataFrame): DataFrame = {
    val screened = screen(batch, key, mergedBloom)
    val certain = screened.filter(!col("might_seen")).drop("might_seen")
    val candidates = screened.filter(col("might_seen")).drop("might_seen")
    val confirmed = candidates.join(
      corpus.select(corpusKey.as("__bl_seen")).distinct(),
      key === col("__bl_seen"), "left_anti")
    certain.unionAll(confirmed)
  }
}
