package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.{Components, Decontam, Dedup}
import graft.text.{TextAnalysis, TextPrep}

/** Fluent facade over the training-data operators — the pipeline a
  * shmr user writes on day one, as one chain:
  *
  * {{{
  * Corpus(docs, col("text"), col("doc_id"))
  *   .qualityFilter(minTokens = 30)
  *   .exactDedup()
  *   .nearDedupKeepBest()
  *   .decontaminate(benchDf, col("text"), col("doc_id"))
  *   .splitAssign()
  *   .df
  * }}}
  *
  * Every method delegates to the corresponding library operator (all
  * individually oracle-gated); the facade adds NO logic of its own —
  * `CorpusSpec` asserts each chain is row-identical to the manual
  * composition. Plans stay lazy: nothing materializes until the
  * caller acts on `df`.
  */
final case class Corpus(df: DataFrame, text: Column, id: Column,
    auditLog: Option[Vector[DataFrame]] = None) {

  /** Start recording drop attribution: from here on, every stage that
    * removes documents contributes its casualties to [[dropLedger]],
    * and each stage's OUTPUT is materialized once (an operator
    * checkpoint, released at the harness's query boundary). Without
    * the materialization an audited chain re-ran every stage 2-3×
    * (entry k anti-joins stage k−1's and k's plans, and stage k+1's
    * input embeds both) — measured as q_drop_ledger's dominant cost;
    * with it each stage runs exactly once and every ledger entry is
    * an id-only anti-join of two materialized frames (the persist
    * discipline the previous doc asked callers to apply, now built
    * in). */
  def audited: Corpus = copy(auditLog = Some(Vector.empty))

  /** The audit trail: (doc_id, stage_idx, stage) for every document
    * the chain since [[audited]] dropped — the "why is this doc not
    * in my training set" answer every production pipeline eventually
    * needs. Stages run sequentially, so each dropped doc appears
    * EXACTLY once, at the first (and only) stage that removed it;
    * ledger ids ∪ surviving ids partition the audited input.
    *
    * Evaluation shape: every stage of an audited chain is
    * materialized once (see [[audited]]), so the ledger union costs
    * one id-width anti-join per stage over already-computed frames —
    * never a stage re-run. */
  def dropLedger: DataFrame = {
    val log = auditLog.getOrElse(throw new IllegalStateException(
      "dropLedger requires an audited chain — call .audited before the stages to attribute"))
    log.reduceOption(_ unionAll _).getOrElse(
      df.select(id.as("doc_id")).limit(0)
        .withColumn("stage_idx", lit(0)).withColumn("stage", lit("")))
  }

  private def keep(kept: DataFrame, stage: String): Corpus = auditLog match {
    case None => copy(df = kept)
    case Some(log) =>
      // materialize the stage output ONCE (see [[audited]]): the
      // ledger entry below and the next stage both read it, and an
      // un-checkpointed chain re-ran each stage per consumer
      val keptCk = operators.Checkpoints.eager(kept)
      // distinct AFTER the anti-join: with duplicate ids in a stage's
      // input the anti-join emits one row per duplicate input row,
      // breaking the one-ledger-row-per-(doc_id, stage) contract. The
      // post-join distinct restores it at a cost proportional to the
      // DROPS of that stage, not the corpus (a pre-join distinct would
      // re-shuffle every surviving id too).
      val dropped = df.select(id.as("doc_id"))
        .join(keptCk.select(id.as("doc_id")), Seq("doc_id"), "left_anti")
        .distinct()
        .withColumn("stage_idx", lit(log.size + 1))
        .withColumn("stage", lit(stage))
      copy(df = keptCk, auditLog = Some(log :+ dropped))
  }

  /** Gopher-style floor: keep docs with at least `minTokens`
    * whitespace tokens. Scan-time filter, zero shuffles. */
  def qualityFilter(minTokens: Int): Corpus =
    keep(df.filter(TextAnalysis.tokenCount(text) >= minTokens), "quality_filter")

  /** The full Gopher document-rule battery (arXiv:2112.11446 app. A;
    * [[quality.HeuristicRules.gopherPass]]): word-count window, mean
    * token length, stopword floor, alphabetic-word ratio, top-2-gram
    * coverage — one scan-time predicate, zero shuffles, every rule
    * integer-exact. */
  def gopherQualityFilter(minWords: Int = 50, maxWords: Int = 100000): Corpus =
    keep(df.filter(quality.HeuristicRules.gopherPass(text, minWords, maxWords)),
      "gopher_rules")

  /** Gopher's repetition battery (arXiv:2112.11446 app. A
    * "repetitious text"; [[quality.HeuristicRules.repetitionPass]]):
    * duplicate line/paragraph fractions, top {2,3,4}-gram character
    * coverage, duplicated {5..10}-gram character mass — all published
    * thresholds as one scan-time integer predicate, zero shuffles. */
  def repetitionFilter(): Corpus =
    keep(df.filter(quality.HeuristicRules.repetitionPass(text)), "repetition_rules")

  /** C4's line rules (arXiv:1910.10683 §2.2;
    * [[quality.HeuristicRules]]): rewrite the text column IN PLACE to
    * the kept lines (terminal-punctuated, ≥3 words) and keep only
    * pages passing the ≥5-sentences / no-lorem-ipsum / no-brace
    * verdict. Scan-time, zero shuffles; same in-place contract as
    * [[scrubSubstrings]]. */
  def c4LineFilter(textName: String = "text"): Corpus = {
    require(df.columns.contains(textName),
      s"c4LineFilter: no column '$textName' in ${df.columns.mkString(",")}")
    keep(df.filter(quality.HeuristicRules.c4Pass(text))
      .withColumn(textName, quality.HeuristicRules.c4CleanText(text)),
      "c4_line_rules")
  }

  /** Drop rows whose keep-probability min(1, weight/threshold) misses
    * the deterministic draw — rerun-stable weighted sampling. */
  def weightedSample(weight: Column, threshold: Long): Corpus =
    keep(df.filter(TextPrep.weightedSample(id, weight, threshold)), "weighted_sample")

  /** Exact dedup by content hash, min-id representative per group. */
  def exactDedup(): Corpus =
    keep(Dedup.exactDedupKeyed(df, text, id).drop("fp", "group_n"), "exact_dedup")

  /** MinHash-LSH near-dup removal, keeping the min-id doc per
    * connected cluster. `portable = true` switches to the
    * md5-lexicographic hash family (engine-replayable, oracle-gated);
    * the default xxhash64 family is the fast path. Clusters come from
    * the star edges of [[Dedup.minhashClusterEdges]] (one edge per
    * band-bucket member), not the all-pairs candidate graph: a
    * spanning edge set has the same connected components, so the kept
    * rows are the same, at |B| − 1 edges per bucket instead of
    * C(|B|,2). */
  def nearDedup(shingleN: Int = 3, numBands: Int = 4, rowsPerBand: Int = 2,
      portable: Boolean = false): Corpus = {
    val edges = Dedup.minhashClusterEdges(df, text, id, shingleN, numBands, rowsPerBand, portable)
    keep(Components.keepOnePerCluster(df, id, edges, "doc_a", "doc_b"), "near_dedup")
  }

  /** MinHash-LSH near-dup removal, keeping the LONGEST doc per
    * cluster (id tiebreak) — the copy worth training on. Same star
    * edges as [[nearDedup]]. */
  def nearDedupKeepBest(shingleN: Int = 3, numBands: Int = 4, rowsPerBand: Int = 2): Corpus = {
    val edges = Dedup.minhashClusterEdges(df, text, id, shingleN, numBands, rowsPerBand)
    keep(Components.keepBestPerCluster(df, id, edges, "doc_a", "doc_b",
      Seq(length(text).desc, id.asc)), "near_dedup_keep_best")
  }

  /** SimHash near-dup removal: 60-bit fingerprints (native SimHash60
    * expression, zero shuffles), segment-blocked pairs within the
    * hamming radius, min-id keeper per connected cluster. Catches the
    * small-edit duplicates MinHash banding can miss at low signature
    * budgets. */
  def nearDedupSimhash(maxHamming: Int = 3): Corpus = {
    val pairs = Dedup.simhashPairs(Dedup.simhash(df, text, id), maxHamming)
    keep(Components.keepOnePerCluster(df, id, pairs, "doc_a", "doc_b"), "near_dedup_simhash")
  }

  /** Winnowing (MOSS-style) near-dup removal: substring-level —
    * docs sharing ≥ `minShared` winnow fingerprints copied a run of
    * text even when their word sets diverge. Min-id keeper per
    * connected cluster. */
  def nearDedupWinnow(k: Int = 5, w: Int = 4, minShared: Long = 10,
      maxDocFreq: Long = 50): Corpus = {
    val pairs = TextAnalysis.winnowPairs(df, text, id, k, w, minShared, maxDocFreq)
    keep(Components.keepOnePerCluster(df, id, pairs, "doc_a", "doc_b"), "near_dedup_winnow")
  }

  /** Gopher/FineWeb-style per-source frequency cap: keep at most
    * `maxDocs` docs per source, best-first by `order` (default:
    * longest doc wins, id tiebreak — the same "copy worth training
    * on" rule as [[nearDedupKeepBest]]). The over-represented-domain
    * guard that runs after dedup and before mixture sampling.
    *
    * Rides the GroupTopK physical operator: each map task forwards at
    * most `maxDocs` rows per (source, partition), so the one exchange
    * on source carries ≤ maxDocs·partitions rows per source — a
    * million-doc domain ships a few hundred candidates, not a million
    * (a row_number window would shuffle them all). */
  def capPerSource(source: Column, maxDocs: Int,
      order: Seq[Column] = Seq.empty): Corpus = {
    val ord = if (order.nonEmpty) order else Seq(length(text).desc, id.asc)
    keep(org.apache.spark.sql.graft.GraftPlans.groupTopK(df, Seq(source), ord, maxDocs), "cap_per_source")
  }

  /** Exact substring scrub stage (Lee et al.; [[dedup.SubstringDedup]]):
    * delete every duplicated `windowTokens`-token span occurrence
    * after the corpus-wide first, and rewrite the text column IN
    * PLACE so the chain continues on scrubbed text. `textName` names
    * the physical column this facade's `text` Column reads (the
    * facade can't recover a name from an arbitrary expression).
    * Docs scrubbed to nothing drop; docs shorter than the window
    * pass untouched. */
  def scrubSubstrings(windowTokens: Int, textName: String = "text",
      minCount: Long = 2L): Corpus = {
    require(df.columns.contains(textName),
      s"scrubSubstrings: no column '$textName' in ${df.columns.mkString(",")}")
    val cleaned = dedup.SubstringDedup
      .scrubDuplicatedSpans(df, text, id, windowTokens, minCount)
      .select(col("doc_id").as("__ss_id"), col("clean_text").as("__ss_text"))
    keep(df.join(cleaned, id === col("__ss_id"))
      .withColumn(textName, col("__ss_text"))
      .drop("__ss_id", "__ss_text"), "scrub_substrings")
  }

  /** C4 three-sentence-span dedup stage ([[dedup.SentenceDedup]]):
    * delete all but the first occurrence of every duplicated
    * 3-sentence span and rewrite the text column IN PLACE, same
    * contract as [[scrubSubstrings]] (punctuation-less sentences
    * subdivide every `maxSentTokens` tokens; docs scrubbed to nothing
    * drop; docs with <3 sentences pass untouched). */
  def scrubSentences(maxSentTokens: Int, textName: String = "text"): Corpus = {
    require(df.columns.contains(textName),
      s"scrubSentences: no column '$textName' in ${df.columns.mkString(",")}")
    val cleaned = dedup.SentenceDedup
      .scrubDuplicatedSentenceSpans(df, text, id, maxSentTokens)
      .select(col("doc_id").as("__sc_id"), col("clean_text").as("__sc_text"))
    keep(df.join(cleaned, id === col("__sc_id"))
      .withColumn(textName, col("__sc_text"))
      .drop("__sc_id", "__sc_text"), "scrub_sentences")
  }

  /** Unigram-LM quality gate: drop docs whose share of corpus-rare
    * tokens (corpus frequency ≤ `rareMax`) exceeds `maxRareRatio` —
    * the gibberish/OCR-noise screen. Cross-multiplied comparison, no
    * division. */
  def lmQualityFilter(rareMax: Long, maxRareRatio: Double): Corpus = {
    val scores = TextAnalysis.lmScore(df, text, id, rareMax)
      .select(col("doc_id").as("__lm_id"), col("n_tokens").as("__lm_n"),
        col("n_rare").as("__lm_rare"))
    keep(df.join(scores, id === col("__lm_id"))
      .filter(col("__lm_rare").cast("double") <= lit(maxRareRatio) * col("__lm_n"))
      .drop("__lm_id", "__lm_n", "__lm_rare"), "lm_quality_filter")
  }

  /** Bigram-LM quality gate — [[lmQualityFilter]] one model order up:
    * drop docs whose share of corpus-rare BIGRAMS (corpus frequency ≤
    * `rareMax`) exceeds `maxRareRatio`. Catches shuffled/stitched
    * text whose unigram profile passes. Docs with fewer than 2 tokens
    * carry no bigram evidence and PASS (the token-count floor is
    * [[qualityFilter]]'s job, not this gate's). Cross-multiplied
    * comparison, no division. */
  def bigramQualityFilter(rareMax: Long, maxRareRatio: Double): Corpus = {
    val scores = TextAnalysis.bigramLmScore(df, text, id, rareMax)
      .select(col("doc_id").as("__bg_id"), col("n_bigrams").as("__bg_n"),
        col("n_rare").as("__bg_rare"))
    keep(df.join(scores, id === col("__bg_id"), "left")
      .filter(col("__bg_rare").isNull ||
        col("__bg_rare").cast("double") <= lit(maxRareRatio) * col("__bg_n"))
      .drop("__bg_id", "__bg_n", "__bg_rare"), "bigram_quality_filter")
  }

  /** Trained-classifier coherence gate: fit the multinomial
    * Naive-Bayes model ([[quality.NaiveBayes]]) on THIS corpus with
    * `label` as the target, re-score every doc, and drop the docs the
    * trained model assigns a different label — the "claimed lang
    * disagrees with the text" screen CCNet runs with fastText, in the
    * engine's all-integer replayable form. Two corpus shuffles (train
    * counts, per-doc scores); the weight grid broadcasts. */
  def nbLabelFilter(label: Column, buckets: Int = 256,
      scaleBits: Int = 40): Corpus = {
    val keepIds = quality.NaiveBayes
      .classify(df, text, id, label, df, text, id, label, buckets, scaleBits)
      .filter(col("correct") === 1)
      .select(col("doc_id").as("__nb_keep"))
    keep(df.join(keepIds, id === col("__nb_keep")).drop("__nb_keep"),
      "nb_label_filter")
  }

  /** DSIR selection stage (arXiv:2302.03169;
    * [[quality.Dsir.select]]): keep the `k` documents whose hashed
    * unigram+bigram distribution scores closest to the `target`
    * sample under the trained importance-ratio grid. Two count
    * aggregates + one weight shuffle; the ratio grid broadcasts. */
  def dsirSelect(target: DataFrame, targetText: Column, targetId: Column,
      k: Int, buckets: Int = 512, scaleBits: Int = 40): Corpus = {
    val keepIds = quality.Dsir.select(df, text, id, target, targetText, targetId,
        k, buckets, scaleBits)
      .select(col("doc_id").as("__dsir_keep"))
    keep(df.join(keepIds, id === col("__dsir_keep")).drop("__dsir_keep"),
      "dsir_select")
  }

  /** RRF top-n selection: fuse any integer quality signals by
    * reciprocal rank ([[quality.Ensemble.rrf]] — calibration-free,
    * only orderings matter) and keep the n best-fused documents
    * (ties broken by fused score then id, deterministic in any
    * engine). The multi-signal complement of the single-score gates:
    * one range exchange per signal, one TakeOrdered for the head,
    * one id join back to the full rows. */
  def rrfSelect(signals: Seq[(String, Column)], n: Int): Corpus = {
    require(n >= 1)
    val keepIds = quality.Ensemble.rrf(df, id, signals)
      .orderBy(col("rrf_score").desc, col("id").asc).limit(n)
      .select(col("id").as("__rrf_keep"))
    keep(df.join(keepIds, id === col("__rrf_keep")).drop("__rrf_keep"),
      "rrf_select")
  }

  /** CCNet-style selection: bucket documents into per-language
    * head/middle/tail terciles of the LM quality proxy
    * ([[text.TextPrep.perplexityBuckets]]) and keep only the buckets
    * in `keep` (default: head + middle — the slice CCNet trains
    * from). No per-language sort: cutoffs broadcast, assignment is a
    * scan. */
  def keepPplBuckets(lang: Column, rareMax: Long,
      keep: Set[Int] = Set(1, 2)): Corpus = {
    require(keep.nonEmpty && keep.subsetOf(Set(1, 2, 3)),
      s"keep must be a non-empty subset of {1,2,3}, got $keep")
    val keepIds = TextPrep.perplexityBuckets(df, text, id, lang, rareMax)
      .filter(col("bucket").isInCollection(keep))
      .select(col("doc_id").as("__ppl_keep"))
    this.keep(df.join(keepIds, id === col("__ppl_keep")).drop("__ppl_keep"),
      "ppl_buckets")
  }

  /** Temperature-flattened source mixture (α = 0.5): each source is
    * kept with probability boost/max(boost) — the most up-weighted
    * (tail) source passes whole, head sources downsample toward the
    * sqrt-share mixture. The draw is the deterministic md5 hash of
    * the row key, so the sample is rerun-stable; the per-source
    * weight table is #sources rows, broadcast by design. */
  def temperatureSample(source: Column): Corpus = {
    val w = TextPrep.temperatureWeights(df, source, TextAnalysis.tokenCount(text))
    val maxBoost = w.agg(max("boost").as("__max_boost"))
    val probs = w.crossJoin(broadcast(maxBoost))
      .select(col("source").as("__ts_src"),
        (col("boost") / col("__max_boost")).as("__ts_p"))
    val draw = conv(substring(md5(id.cast("string")), 1, 7), 16, 10).cast("long")
    keep(df.join(broadcast(probs), source === col("__ts_src"))
      .filter(draw.cast("double") < col("__ts_p") * (1L << 28).toDouble)
      .drop("__ts_src", "__ts_p"), "temperature_sample")
  }

  /** SemDeDup semantic near-dedup (Abbas et al. 2023) over an
    * embedding column of THIS corpus: IVF-cluster the embeddings,
    * then drop every doc that has a lower-id cluster-mate with
    * cosine >= `tau`. Scale-safe by default — [[similarity.CellCap.Auto]]
    * caps every cell's all-pairs sweep at 4× the measured average
    * cell size, so one dense boilerplate cluster cannot concentrate
    * C(N,2) work. At scale pick numCentroids ≈ √N
    * ([[similarity.IvfAnn.suggestCentroids]]). */
  def semanticDedup(embedding: Column, tau: Double, numCentroids: Int = 16,
      lloydIters: Int = 2,
      maxCellSize: similarity.CellCap = similarity.CellCap.Auto): Corpus = {
    val prepared = similarity.Similarity.prepareQuantized(df, embedding, id)
    val keepIds = similarity.SemDedup
      .semDedup(prepared, numCentroids, lloydIters, tau, maxCellSize)
      .filter(!col("is_dup")).select(col("vec_id").as("__sd_keep"))
    keep(df.join(keepIds, id === col("__sd_keep")).drop("__sd_keep"), "semantic_dedup")
  }

  /** Benchmark decontamination: drop docs sharing ≥ minHits distinct
    * n-grams with any doc of the eval set. */
  def decontaminate(bench: DataFrame, benchText: Column, benchId: Column,
      n: Int = 3, minHits: Long = 3): Corpus =
    keep(Decontam.decontaminate(df, text, id, bench, benchText, benchId, n, minHits), "decontaminate")

  /** Semantic decontamination: drop docs whose hashed-BoW embedding
    * sits within cosine ≥ tau of any eval-set doc — the paraphrase
    * leakage [[decontaminate]]'s n-gram screen cannot see. Run BOTH
    * stages for the combined screen; the drop ledger attributes each
    * removal to the stage that caught it. */
  def decontaminateSemantic(bench: DataFrame, benchText: Column, benchId: Column,
      dim: Int = 64, tau: Double = 0.8): Corpus =
    keep(Decontam.decontaminateSemantic(df, text, id, bench, benchText, benchId, dim, tau),
      "decontaminate_semantic")

  /** Screen THIS corpus (as the new drop) against an existing corpus:
    * keep only rows that are not LSH near-dups of it. Each side is
    * band-keyed with its own columns — neither needs any particular
    * column naming. */
  def screenAgainst(existing: DataFrame, existingText: Column, existingId: Column,
      shingleN: Int = 3, numBands: Int = 4, rowsPerBand: Int = 2): Corpus =
    keep(Dedup.minhashNovel(existing, df, text, id, shingleN, numBands, rowsPerBand,
      corpusText = Some(existingText), corpusId = Some(existingId)), "screen_against")

  /** Add a deterministic train/val/test column. */
  def splitAssign(trainPct: Int = 90, valPct: Int = 5, colName: String = "split"): Corpus =
    keep(df.withColumn(colName, TextPrep.splitAssign(id, trainPct, valPct)), "split_assign")

  /** Per-group corpus stats: docs and total whitespace tokens. */
  def stats(group: Column): DataFrame =
    df.groupBy(group)
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(text).cast("bigint")).as("total_tokens"))
}
