package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Corpus
import graft.dedup.{Components, Dedup}
import graft.operators.Ordering
import graft.sources.PartitionedFiles
import graft.text.{TextAnalysis, TextPrep}

/** The README quickstart chain on amplified documents: read →
  * quality floor → exact dedup → near-dup keep-best → LM-quality gate
  * → split → seeded shuffle → sequence packing → parquet export. One
  * operation per pass. Untraced passes run the `Corpus` facade as a
  * user writes it; traced passes run the same operators composed by
  * hand, one span per module call, each span's output materialized. */
final class Pipeline(seed: Long, baseDocs: Int, factor: Int, files: Int) extends Workload {
  val name = "pipeline"
  val budget = 2000L
  private var docs = 0L

  private def input(dir: String) = s"$dir/documents.parquet"
  private def output(dir: String) = s"$dir/sequences"
  /** The unamplified documents, for the facade-vs-manual check. */
  private def sample(dir: String) = s"$dir/sample"

  def prepare(spark: SparkSession, dir: String): Unit = {
    val base = Gen.documents(spark, Gen.TableSeed, baseDocs)
    Gen.amplify(base, factor, seed).repartition(files).write.mode("overwrite").parquet(input(dir))
    docs = baseDocs.toLong * factor
  }

  private def pack(shuffled: DataFrame): DataFrame =
    TextPrep.packSequences(
      shuffled.withColumn("shard", pmod(col("doc_id"), lit(8))),
      col("shard"), Seq(col("shuffle_rank")), col("text"),
      TextAnalysis.tokenCount(col("text")), budget)

  private def write(seqs: DataFrame, dir: String): Fp =
    Force.via(seqs)(d => PartitionedFiles.writeParquet(d, output(dir), numPartitions = 8))

  /** The chain through the `Corpus` facade. */
  def facade(spark: SparkSession, dir: String): DataFrame = {
    val prepped = Corpus(PartitionedFiles.readParquet(spark, input(dir)), col("text"), col("doc_id"))
      .qualityFilter(minTokens = 30)
      .exactDedup()
      .nearDedupKeepBest()
      .lmQualityFilter(rareMax = 100, maxRareRatio = 0.5)
      .splitAssign(trainPct = 90, valPct = 5)
      .df
    pack(Ordering.shuffleRank(prepped, col("doc_id"), seed))
  }

  /** The same chain composed from the operators directly. With
    * `traced`, every module call is a span whose output is
    * materialized at its boundary. Returns the written output's
    * fingerprint. */
  def manual(h: Harness, dir: String, traced: Boolean,
      onShuffled: DataFrame => Unit = _ => ()): Fp = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def step(span: String)(df: => DataFrame): DataFrame =
      if (traced) h.span(span)(Workload.materialize(df, held)) else df
    val text = col("text")
    val id = col("doc_id")
    try {
      val d0 = step("sources.load")(PartitionedFiles.readParquet(h.spark, input(dir)))
      val d1 = step("text.quality_filter")(d0.filter(TextAnalysis.tokenCount(text) >= 30))
      val d2 = step("dedup.exact")(Dedup.exactDedupKeyed(d1, text, id).drop("fp", "group_n"))
      val pairs = step("dedup.minhash_pairs")(Dedup.minhashCandidatePairs(d2, text, id, 3, 4, 2))
      val d3 = step("dedup.components")(Components.keepBestPerCluster(d2, id, pairs, "doc_a", "doc_b",
        Seq(length(text).desc, id.asc)))
      if (traced) {
        val nPairs = pairs.count().toDouble
        val dropped = (d2.count() - d3.count()).toDouble
        h.record("dedup.minhash_pairs", "pairs", nPairs, "count")
        h.record("dedup.components", "useful_ratio", if (nPairs > 0) dropped / nPairs else 0.0, "ratio")
      }
      val d4 = step("text.lm_quality_filter") {
        val scores = TextAnalysis.lmScore(d3, text, id, 100)
          .select(col("doc_id").as("__lm_id"), col("n_tokens").as("__lm_n"),
            col("n_rare").as("__lm_rare"))
        d3.join(scores, id === col("__lm_id"))
          .filter(col("__lm_rare").cast("double") <= lit(0.5) * col("__lm_n"))
          .drop("__lm_id", "__lm_n", "__lm_rare")
      }
      val d5 = d4.withColumn("split", TextPrep.splitAssign(id, 90, 5))
      val d6 = step("operators.shuffle_rank")(Ordering.shuffleRank(d5, id, seed))
      onShuffled(d6)
      val seqs = step("text.pack_sequences")(pack(d6))
      if (traced) {
        val r = seqs.agg(sum("n_tokens"), count(lit(1))).head()
        h.record("text.pack_sequences", "fill_ratio",
          r.getLong(0).toDouble / math.max(1L, r.getLong(1)) / budget, "ratio")
      }
      val fp = if (traced) h.span("sources.write_parquet")(write(seqs, dir)) else write(seqs, dir)
      if (traced) h.record("sources.write_parquet", "bytes", Workload.dirBytes(output(dir))._1, "bytes")
      fp
    } finally Workload.release(held)
  }

  private var reference: Option[Fp] = None

  /** The facade chain on the full input; its output is the reference
    * every timed pass (traced ones included) must reproduce. */
  def warmup(h: Harness, dir: String): Seq[String] = {
    reference = Some(write(facade(h.spark, dir), dir))
    graft.operators.Checkpoints.releaseAll()
    Nil
  }

  /** Untimed. The warm-up's sequences must respect the token budget.
    * On the unamplified documents, the hand composition, materialized
    * per module call as in traced passes, must write the same rows as
    * the facade, and every surviving document must be packed exactly
    * once. */
  def check(h: Harness, dir: String): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= packingProblems(h, dir)
    val small = sample(dir)
    Gen.documents(h.spark, Gen.TableSeed, baseDocs).write.mode("overwrite").parquet(input(small))
    val viaFacade = write(facade(h.spark, small), small)
    graft.operators.Checkpoints.releaseAll()
    var shuffledDocs = -1L
    val viaManual = manual(h, small, traced = true, onShuffled = { d6 =>
      shuffledDocs = d6.count()
      val dup = d6.groupBy("doc_id").count().filter(col("count") > 1).limit(1).collect()
      if (dup.nonEmpty) problems += s"pipeline: doc ${dup.head.get(0)} appears twice before packing"
    })
    graft.operators.Checkpoints.releaseAll()
    if (viaFacade != viaManual)
      problems += s"pipeline: facade output ($viaFacade) differs from the manual composition ($viaManual)"
    if (packedDocs(h, small) != shuffledDocs)
      problems += s"pipeline: ${packedDocs(h, small)} documents packed, $shuffledDocs survived the chain"
    problems ++= packingProblems(h, small)
    problems.toSeq
  }

  private def packedDocs(h: Harness, dir: String): Long =
    PartitionedFiles.readParquet(h.spark, output(dir)).agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)

  /** Sequence invariants on written output: members match `n_docs`, and
    * no sequence exceeds the budget by more than its straddling document. */
  private def packingProblems(h: Harness, dir: String): Seq[String] = {
    val out = PartitionedFiles.readParquet(h.spark, output(dir))
    val r = out.agg(coalesce(sum("n_docs"), lit(0L)), coalesce(max("n_tokens"), lit(0L))).head()
    val members = out.select(explode(split(col("packed_text"), "\n"))).count()
    val maxDocTokens = 101L // a document holds at most 100 tokens plus a " dup" marker
    Seq(
      if (r.getLong(0) <= 0) Some(s"pipeline: no packed documents in $dir") else None,
      if (members != r.getLong(0)) Some(s"pipeline: ${r.getLong(0)} members declared, $members packed")
      else None,
      if (r.getLong(1) >= budget + maxDocTokens)
        Some(s"pipeline: a sequence holds ${r.getLong(1)} tokens, over budget $budget plus one document")
      else None).flatten
  }

  def pass(h: Harness, i: Int, traced: Boolean, dir: String): Unit = {
    val o = h.op("chain", "chain", i, traced) {
      if (traced) manual(h, dir, traced = true) else write(facade(h.spark, dir), dir)
    }
    for (ref <- reference; got <- o.fp if got != ref)
      h.fail(o, s"output fingerprint $got differs from the checked $ref")
  }

  def named(ops: Seq[Op], passS: Seq[Double]): Seq[Metric] =
    if (passS.isEmpty) Nil
    else Seq(
      Metric("pipeline_docs_per_s", docs / Workload.median(passS), "docs/s"),
      Metric("pipeline_input_docs", docs.toDouble, "docs"))
}
