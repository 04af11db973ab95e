package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination (SURVEY.md §2.3/22be): flag training
  * documents that share at least `minHits` distinct word n-grams with
  * any document of an evaluation/benchmark set — the test-set
  * contamination screen every serious pretraining pipeline runs
  * (GPT-3's 13-gram and LLaMA's n-gram overlap checks are this
  * operator with different parameters).
  *
  * Shape for 100 TB: the corpus side explodes to (doc, gram) rows and
  * NEVER shuffles on content — the benchmark side is small by nature
  * (eval suites are MBs, not TBs), so its gram set is broadcast and
  * the only exchange is the per-(doc, bench) hit count aggregate,
  * bounded by actual overlaps rather than corpus size. Shingling is
  * the native codegen [[org.apache.spark.sql.graft.WordShingles]]
  * via [[Dedup.shingles]] (distinct per document, so `count` equals
  * distinct shared grams).
  */
object Decontam {

  /** Row bound above which [[overlapScores]] stops broadcasting the
    * graded flagged-pair relation and grades through shuffle joins
    * instead: ~4M (doc_id, bench_id, n_hits) rows ≈ 100 MB framed —
    * comfortably under the driver heap and Spark's 8 GB broadcast
    * cap, with order-of-magnitude headroom before either. */
  val DefaultMaxBroadcastPairs: Long = 4L * 1000 * 1000

  /** (doc_id, bench_id, n_hits) for every corpus×benchmark pair with
    * `n_hits >= minHits` distinct shared n-grams. */
  def ngramContamination(
      corpus: DataFrame, text: Column, id: Column,
      bench: DataFrame, benchText: Column, benchId: Column,
      n: Int, minHits: Long): DataFrame = {
    require(n >= 1 && minHits >= 1)
    val cg = corpus.select(id.as("doc_id"), explode(Dedup.shingles(text, n)).as("g"))
    val bg = bench.select(benchId.as("bench_id"), explode(Dedup.shingles(benchText, n)).as("g"))
    cg.join(broadcast(bg), "g")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** Word n-grams as a MULTISET (no per-document distinct) — what
    * ROUGE counts. [[Dedup.shinglesRaw]] is the native codegen form
    * with exactly these semantics (lower, trim, whitespace split,
    * space-joined, empty below n tokens — bit-matching the previous
    * HOF transform/slice formulation and the oracle CTEs); the HOF
    * chain allocated a position array and evaluated a slice+concat
    * per gram, the native loop is one pass per row (guide §4.1:
    * prefer codegen expressions in the hot path). */
  private def multisetGrams(text: Column, n: Int): Column =
    Dedup.shinglesRaw(text, n)

  /** ROUGE-style overlap triage for the pairs [[ngramContamination]]
    * flags: per (corpus doc, benchmark doc), the MULTISET n-gram
    * intersection i = Σ_g min(count_doc(g), count_bench(g)) plus
    * exact per-mille recall (i / benchmark grams — how much of the
    * eval item is covered, the decontamination severity) and
    * precision (i / doc grams — how much of the training doc is the
    * eval item, the "is this doc JUST the benchmark" signal). The
    * screen flags on distinct hits; this op grades the flagged pairs
    * so a pipeline can set removal policy by severity instead of
    * dropping everything the screen touches.
    *
    * Scale shape: gram counting happens ONLY for flagged pairs (the
    * contamination-bounded relation, not the corpus), the benchmark
    * gram-count table is broadcast, and the per-pair sum is the one
    * exchange — corpus text never shuffles. All ratios are integer
    * per-mille (1000·i div total), engine-exact.
    *
    * `maxPairsPerDoc` bounds the grading on ADVERSARIAL corpora: the
    * flagged relation is contamination-sized, and a doc that quotes
    * half the benchmark flags against thousands of eval items — the
    * per-pair multiset intersection then grows with flags, not docs
    * (measured near-linear in flagged pairs at ×16 two rounds
    * running). With the cap set, each doc grades only its `k`
    * MOST-SEVERE flags (screen hits descending, bench_id tie-break —
    * deterministic), which is what removal policy acts on anyway
    * (the max/top severities); the pruned tail is enumerated by
    * [[overlapCapAudit]] — the [[DocFreqCap]] discipline: an absolute
    * bound plus a loud audit of what it skipped, never a silent
    * truncation. Default None = exact, every flagged pair graded. */
  def overlapScores(
      corpus: DataFrame, text: Column, id: Column,
      bench: DataFrame, benchText: Column, benchId: Column,
      n: Int, minHits: Long, maxPairsPerDoc: Option[Int] = None,
      maxBroadcastPairs: Long = DefaultMaxBroadcastPairs): DataFrame = {
    require(maxBroadcastPairs >= 1)
    val flagged = ngramContamination(corpus, text, id, bench, benchText, benchId, n, minHits)
    val graded0 = maxPairsPerDoc match {
      case Some(k) =>
        require(k >= 1, s"maxPairsPerDoc must be >= 1, got $k")
        // GroupTopK, not a row_number window: the partial per-partition
        // heap runs BEFORE the exchange, so the doc_id shuffle carries
        // ≤ k·docs rows instead of the whole flagged relation (10.9M
        // rows at the ×16 profile's screen point — the exact regime
        // the cap exists for)
        org.apache.spark.sql.graft.GraftPlans.groupTopK(
          flagged, Seq(col("doc_id")), Seq(col("n_hits").desc, col("bench_id").asc), k)
      case None => flagged
    }
    // contamination-bounded and consumed twice below (doc restriction
    // + final pair join) — checkpoint once so the screen never re-runs
    val (graded, gradedN) = graft.operators.Checkpoints.eagerCount(graded0)
    // MEASURED broadcast bound, not a boundedness argument: the graded
    // relation is usually contamination-sized, but with minHits=1 on a
    // contaminated corpus it can outgrow what the driver can hold as a
    // broadcast (guide §3.1/§5 — driver OOM is the failure mode). The
    // count comes free with the checkpoint's materializing job;
    // above the bound the grading joins below fall back to shuffle
    // joins (bit-equal results — join strategy never changes rows),
    // whose cost scales with the cluster instead of the driver heap.
    val gradedFits = gradedN <= maxBroadcastPairs
    def gradedHint(df: DataFrame): DataFrame = if (gradedFits) broadcast(df) else df
    // Per-DOC gram counting, once per flagged doc. The previous shape
    // joined each doc's gram ARRAY to its flagged pairs FIRST and
    // exploded per (doc, bench) pair — a doc flagged against p eval
    // items paid its token stream p times through the explode and the
    // per-pair aggregate (guide §2.3: aggregate before you fan out).
    // Here the multiset counts are built once per doc, the broadcast
    // bench-gram join forms per-pair intersections from counts (not
    // raw gram instances), and the graded join both restricts to the
    // capped pairs and reattaches n_hits. The candidate (doc, bench)
    // pairs this intersects are a subset of what the screen's own join
    // already enumerated — never more work than the flagging pass.
    // broadcast hints: the checkpointed graded relation carries no
    // size statistics, so the planner would fall back to sort-merge
    // (shuffling the corpus projection). graded is usually
    // contamination-bounded (≤ cap × flagged docs under
    // maxPairsPerDoc); gradedHint above applies the hint only when the
    // MEASURED count fits maxBroadcastPairs.
    // ONE doc_id exchange serves the whole grading tail:
    // HashPartitioning(doc_id) satisfies the per-doc gram aggregate
    // (doc_id, __na, g), survives the broadcast bench join, and
    // satisfies the per-pair sum (doc_id, bench_id, …) — so neither
    // aggregate inserts its own exchange (guide §2.4: two operations
    // keyed the same way share one exchange). Shuffled rows are
    // doc-level (id + gram array), before the explode.
    val dcounts = corpus
      .select(id.as("doc_id"), text.as("__t"))
      .join(gradedHint(graded.select("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), multisetGrams(col("__t"), n).as("__ga"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), size(col("__ga")).as("__na"), explode(col("__ga")).as("g"))
      .groupBy("doc_id", "__na", "g")
      .agg(count(lit(1)).as("__ca"))
    val bg = bench
      .select(benchId.as("bench_id"), multisetGrams(benchText, n).as("__gb"))
      .select(col("bench_id"), size(col("__gb")).as("__nb"), explode(col("__gb")).as("g"))
      .groupBy("bench_id", "__nb", "g")
      .agg(count(lit(1)).as("__cb"))
    dcounts.join(broadcast(bg), Seq("g"))
      .groupBy("doc_id", "bench_id", "__na", "__nb")
      .agg(sum(least(col("__ca"), col("__cb"))).as("shared_grams"))
      .join(gradedHint(graded.select("doc_id", "bench_id", "n_hits")),
        Seq("doc_id", "bench_id"))
      .withColumn("recall_pm", expr("(1000 * shared_grams) div greatest(__nb, 1)"))
      .withColumn("precision_pm", expr("(1000 * shared_grams) div greatest(__na, 1)"))
      .select(col("doc_id"), col("bench_id"), col("n_hits"), col("shared_grams"),
        col("precision_pm"), col("recall_pm"))
  }

  /** The loud half of [[overlapScores]]'s `maxPairsPerDoc` cap: one
    * row per corpus doc WHERE THE CAP BOUND — how many pairs the
    * screen flagged (`n_flagged`), how many were graded (= the cap),
    * and how many were skipped. Flag-count-sized aggregate over the
    * flagged relation (no gram work); empty ⇔ the cap changed
    * nothing, so pipelines can gate on it before trusting a capped
    * grading pass. */
  def overlapCapAudit(
      corpus: DataFrame, text: Column, id: Column,
      bench: DataFrame, benchText: Column, benchId: Column,
      n: Int, minHits: Long, maxPairsPerDoc: Int): DataFrame = {
    require(maxPairsPerDoc >= 1)
    ngramContamination(corpus, text, id, bench, benchText, benchId, n, minHits)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_flagged"))
      .filter(col("n_flagged") > maxPairsPerDoc)
      .withColumn("n_graded", lit(maxPairsPerDoc.toLong))
      .withColumn("n_skipped", col("n_flagged") - maxPairsPerDoc)
  }

  /** Semantic (embedding-space) decontamination — the screen the
    * n-gram check cannot be: a PARAPHRASED benchmark item shares few
    * exact n-grams with its source but still sits next to it in
    * embedding space (the word-shuffle adversary passes
    * [[ngramContamination]] untouched and scores cosine 1.0 here,
    * spec-pinned). Embeds both sides with the signed hashed
    * bag-of-words projection ([[graft.text.HashEmbed]] — integer
    * vectors, exact cross-engine) and flags every (corpus doc,
    * benchmark doc) pair with quantized cosine ≥ `tau`. Callers with
    * real model embeddings use [[semanticContaminationVectors]]
    * directly.
    *
    * Shape for 100 TB: the benchmark side is small by nature — its
    * embedding table is broadcast; the corpus is scanned once,
    * embedded in-row (zero shuffles — the HashedBow expression is
    * narrow), and only flagged pairs survive. Zero-norm (empty)
    * documents on either side never flag: cosine is undefined there,
    * and an empty doc is not contamination. */
  def semanticContamination(
      corpus: DataFrame, text: Column, id: Column,
      bench: DataFrame, benchText: Column, benchId: Column,
      dim: Int, tau: Double): DataFrame =
    semanticContaminationVectors(
      graft.text.HashEmbed.embedDocuments(corpus, text, id, dim),
      graft.text.HashEmbed.embedDocuments(bench, benchText, benchId, dim),
      tau)

  /** Caller-embedding form of [[semanticContamination]]: both sides
    * already carry (vec_id, e, nrm) in [[graft.similarity.Similarity.prepareQuantized]]
    * shape. Returns (doc_id, bench_id, cos) for pairs at cosine ≥ tau. */
  def semanticContaminationVectors(
      corpus: DataFrame, bench: DataFrame, tau: Double): DataFrame = {
    import graft.similarity.Similarity.{cosineQ, dotQ}
    broadcast(bench.select(col("vec_id").as("bench_id"), col("e").as("__be"),
        col("nrm").as("__bnrm")).filter(col("__bnrm") > 0))
      .crossJoin(corpus.filter(col("nrm") > 0))
      .withColumn("cos", cosineQ(dotQ(col("e"), col("__be")), col("nrm"), col("__bnrm")))
      .filter(col("cos") >= tau)
      .select(col("vec_id").as("doc_id"), col("bench_id"), col("cos"))
  }

  /** Combined contamination verdict: the n-gram screen and the
    * semantic screen side by side, one row per (doc, bench) pair
    * either flags — `verdict` ∈ both | ngram_only | semantic_only.
    * `ngram_only` pairs are usually verbatim-quote leakage the
    * embedding blurred; `semantic_only` pairs are the paraphrases the
    * gram screen is blind to; `both` is the highest-confidence
    * removal set. One full-outer join of two flagged-pair streams —
    * contamination-bounded, never corpus-bounded. */
  def contaminationReport(
      corpus: DataFrame, text: Column, id: Column,
      bench: DataFrame, benchText: Column, benchId: Column,
      n: Int, minHits: Long, dim: Int, tau: Double): DataFrame = {
    val ng = ngramContamination(corpus, text, id, bench, benchText, benchId, n, minHits)
      .select(col("doc_id").as("__nd"), col("bench_id").as("__nb"), col("n_hits"))
    val sem = semanticContamination(corpus, text, id, bench, benchText, benchId, dim, tau)
      .select(col("doc_id").as("__sd"), col("bench_id").as("__sb"), col("cos"))
    ng.join(sem, col("__nd") === col("__sd") && col("__nb") === col("__sb"), "full_outer")
      .select(
        coalesce(col("__nd"), col("__sd")).as("doc_id"),
        coalesce(col("__nb"), col("__sb")).as("bench_id"),
        col("n_hits"), col("cos"),
        when(col("__nd").isNotNull && col("__sd").isNotNull, lit("both"))
          .when(col("__nd").isNotNull, lit("ngram_only"))
          .otherwise(lit("semantic_only")).as("verdict"))
  }

  /** The clean corpus: drop every document flagged against any
    * benchmark document — the removal step downstream of the audit
    * view above. */
  def decontaminate(
      corpus: DataFrame, text: Column, id: Column,
      bench: DataFrame, benchText: Column, benchId: Column,
      n: Int, minHits: Long): DataFrame = {
    val flagged = ngramContamination(corpus, text, id, bench, benchText, benchId, n, minHits)
      .select(col("doc_id").as("__contaminated_id")).distinct()
    corpus.join(flagged, id === col("__contaminated_id"), "left_anti")
  }

  /** [[decontaminate]] under the semantic screen: drop every document
    * [[semanticContamination]] flags against any benchmark document —
    * the paraphrase leakage the n-gram screen cannot see. The same
    * body serves a whole corpus and one streaming micro-batch. */
  def decontaminateSemantic(
      corpus: DataFrame, text: Column, id: Column,
      bench: DataFrame, benchText: Column, benchId: Column,
      dim: Int, tau: Double): DataFrame = {
    val flagged = semanticContamination(corpus, text, id, bench, benchText, benchId, dim, tau)
      .select(col("doc_id").as("__sem_flagged")).distinct()
    corpus.join(flagged, id === col("__sem_flagged"), "left_anti")
  }
}
