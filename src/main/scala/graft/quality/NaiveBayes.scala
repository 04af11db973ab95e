package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained multinomial Naive-Bayes text classifier over hashed token
  * features (SURVEY.md §2.5 extension) — the fastText-style trained
  * quality/language screen that graduates the heuristic gates
  * ([[graft.text.TextAnalysis.langId]], the LM rare-ratio filters) to
  * a model actually fit on the corpus.
  *
  * Training IS one integer counting aggregate (the engine's native
  * shape): token occurrences per (class, feature-bucket), Laplace
  * smoothing, and class priors. Scoring sums per-token weights from a
  * broadcast (class × bucket) grid — `buckets` is a few hundred, so
  * the full weight matrix is KB-sized no matter how large the corpus,
  * and the corpus-side plan is exactly two shuffles (train counts,
  * per-doc score aggregation) at any scale.
  *
  * Everything is INTEGER-EXACT and engine-portable, so the DuckDB
  * oracle replays training and inference bit-for-bit:
  *
  *   - features: md5-derived bucket of each lowercase token
  *     ([[graft.functions.Hashing.portableHash64]] family);
  *   - log-probabilities: the fixed-point chord approximation
  *     [[qlog64]] of 64·log2 over a 2^scaleBits-scaled smoothed
  *     ratio — integer in, integer out, no transcendental anywhere
  *     (same discipline as the PMI / cross-multiplied-comparison
  *     tricks in [[graft.text.TextAnalysis]]);
  *   - decision: argmax of summed integer scores, class-name ASC
  *     tie-break via one row_number window over the (test docs ×
  *     classes) score table — never the corpus.
  *
  * Count bound: weights need (n+1)·2^scaleBits and n·64 to fit in a
  * signed 64-bit long, i.e. per-(class, bucket) token counts below
  * 2^(62−scaleBits) (4M at the default 40). Production corpora above
  * that per-bucket mass train on a fixed-fraction sample (the
  * estimates converge long before) or lower scaleBits — the grid
  * stays exact either way.
  */
object NaiveBayes {

  /** Fixed-point base-2 logarithm: floor-ish 64·log2(x) for x ≥ 1 via
    * the bit-length + linear-mantissa chord ("fast log") — with L the
    * bit length of x and m = x/2^(L−1) ∈ [1,2):
    *
    *   qlog64(x) = 64·(L−1) + floor(64·m) − 64
    *
    * Monotone, qlog64(2^k) = 64k exactly, chord error < 5.6/64 bit.
    * All-integer and replayable anywhere that has bin()/floor():
    * x·64 ≤ 2^53 keeps the division exact in double (x < 2^47).
    */
  def qlog64(x: Column): Column = {
    val bitLen = length(bin(x)).cast("long")
    val mant = floor((x * 64).cast("double") / pow(lit(2.0), (bitLen - 1).cast("double")))
      .cast("long")
    lit(64L) * (bitLen - 1) + mant - 64L
  }

  /** Engine-portable feature bucket of a token: 28-bit md5 prefix
    * mod `buckets` (DuckDB: ('0x'||substr(md5(t),1,7))::BIGINT % B). */
  def featureBucket(token: Column, buckets: Int): Column =
    pmod(conv(substring(md5(token), 1, 7), 16, 10).cast("long"), lit(buckets.toLong))

  private def tokens(df: DataFrame, text: Column, id: Column, label: Column,
      buckets: Int): DataFrame =
    df.select(id.as("doc_id"), label.as("true_label"),
        explode(split(trim(lower(text)), "\\s+")).as("__t"))
      .select(col("doc_id"), col("true_label"), featureBucket(col("__t"), buckets).as("f"))

  /** The trained model as ONE small persistable/broadcastable frame:
    * (lab, f, w, prior) — classes × buckets rows, KB-sized at any
    * corpus scale. Training is one explode + count aggregate over the
    * train corpus (1 corpus shuffle; the ≤C·B count grid is
    * checkpointed once for its two tiny consumers) plus the
    * class-doc-count aggregate; the grid assembly itself is
    * broadcast-only. EVERY (class, bucket) pair materializes
    * (unobserved → the Laplace floor), so scoring needs no
    * missing-weight special case. */
  def model(train: DataFrame, trainText: Column, trainId: Column, trainLabel: Column,
      buckets: Int = 256, scaleBits: Int = 40): DataFrame = {
    val spark = train.sparkSession
    val scale = 1L << scaleBits
    val trainTok = tokens(train, trainText, trainId, trainLabel, buckets)
    val counts = graft.operators.Checkpoints.eager(
      trainTok.groupBy(col("true_label").as("lab"), col("f"))
        .agg(count(lit(1)).as("n")))
    val classMass = counts.groupBy("lab").agg(sum("n").as("n_lab"))
    // the ≤C-row class-doc-count table is checkpointed once: it feeds
    // the prior build, the grid's class list AND (via its own sum) the
    // total-doc count — previously each consumer re-scanned the train
    // corpus' label column per broadcast build, and the total was one
    // more full count scan (guide §1.2: don't recompute what a
    // materialized aggregate already knows)
    val classDocs = graft.operators.Checkpoints.eager(
      train.groupBy(trainLabel.as("lab")).agg(count(lit(1)).as("d_lab")))
    val totalDocs = classDocs.agg(sum("d_lab").as("n_docs"))
    val allBuckets = spark.range(buckets).select(col("id").as("f"))
    // every grid input is an aggregate output (≤ classes·buckets rows)
    // — broadcast them so the KB-sized grid assembly adds no exchange
    val priors = classDocs.crossJoin(broadcast(totalDocs))
      .withColumn("__r", expr(s"(d_lab * ${scale}L) div n_docs"))
      .select(col("lab"), qlog64(col("__r")).as("prior"))
    classDocs.select(col("lab")).crossJoin(allBuckets)
      .join(broadcast(counts), Seq("lab", "f"), "left")
      .na.fill(0L, Seq("n"))
      .join(broadcast(classMass), Seq("lab"))
      .withColumn("__r", expr(s"((n + 1) * ${scale}L) div (n_lab + $buckets)"))
      .select(col("lab"), col("f"), qlog64(col("__r")).as("w"))
      .join(broadcast(priors), Seq("lab"))
  }

  /** Best-class row per doc against a trained [[model]] frame,
    * optionally carrying a ground-truth label through for the
    * evaluation output shape. */
  private def scoreCore(test: DataFrame, testText: Column, testId: Column,
      testLabel: Option[Column], model: DataFrame, buckets: Int): DataFrame = {
    val testTok = tokens(test, testText, testId,
      testLabel.getOrElse(lit(null).cast("string")), buckets)
    val scored = testTok
      .join(broadcast(model), Seq("f"))
      .groupBy(col("doc_id"), col("true_label"), col("lab"))
      // prior is constant per class — max() re-attaches it without a
      // second join
      .agg((sum("w") + max("prior")).as("score"))
    val rk = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("lab").asc))
    scored.withColumn("__rk", rk).filter(col("__rk") === 1)
  }

  /** Inference against a trained model — the new-drop / streaming
    * form (run it per micro-batch with
    * [[graft.streaming.EventStreams.eachBatch]] and join the verdicts
    * back with [[graft.streaming.EventStreams.withScores]]):
    * (doc_id, pred_label, score). One broadcast
    * join + one per-doc aggregate; the doc text never shuffles. */
  def scoreAgainst(test: DataFrame, testText: Column, testId: Column,
      model: DataFrame, buckets: Int = 256): DataFrame =
    scoreCore(test, testText, testId, None, model, buckets)
      .select(col("doc_id"), col("lab").as("pred_label"), col("score"))

  /** Train on `train`, score `test`; both are (text, id, label)
    * corpora (label on the test side is the evaluation ground truth —
    * pass the same frame twice for resubstitution scoring, e.g. the
    * [[graft.Corpus.nbLabelFilter]] stage). Returns one row per test
    * doc: (doc_id, true_label, pred_label, score, correct).
    *
    * Plan shape at scale: the [[model]] build (1 corpus shuffle),
    * then explode + per-(doc, class) sum over the test corpus (1
    * shuffle) and a row_number window over test-docs×classes rows.
    * The corpus text itself is never joined or shuffled. */
  def classify(train: DataFrame, trainText: Column, trainId: Column, trainLabel: Column,
      test: DataFrame, testText: Column, testId: Column, testLabel: Column,
      buckets: Int = 256, scaleBits: Int = 40): DataFrame =
    scoreCore(test, testText, testId, Some(testLabel),
        model(train, trainText, trainId, trainLabel, buckets, scaleBits), buckets)
      .select(col("doc_id"), col("true_label"), col("lab").as("pred_label"), col("score"),
        (col("true_label") === col("lab")).cast("int").as("correct"))

  /** Held-out probe: train on doc_id ≢ 0 (mod holdMod), score the
    * held-out doc_id ≡ 0 slice — the q_nb_quality gate shape. */
  def holdoutProbe(df: DataFrame, text: Column, id: Column, label: Column,
      holdMod: Int, buckets: Int = 256, scaleBits: Int = 40): DataFrame = {
    val isHeld = pmod(id, lit(holdMod.toLong)) === 0
    classify(df.filter(!isHeld), text, id, label,
      df.filter(isHeld), text, id, label, buckets, scaleBits)
  }

  /** Margin-calibration (reliability) report over the held-out probe:
    * does the classifier's CONFIDENCE mean anything? Confidence is the
    * integer log-score margin s₁ − s₂ between the best and runner-up
    * class (the logit-margin standard when scores aren't normalized
    * probabilities — no transcendental softmax anywhere), bucketed
    * into FIXED-width integer bins (`marginWidth` qlog64 units):
    * equal-width, not equal-population, so no global ntile sort —
    * binning is a pure scan over the held-out slice and the report
    * aggregate is bin-count-sized. A trustworthy score shows acc_pm
    * rising with margin_bin; a flat profile says the margin carries
    * no signal and a downstream gate shouldn't threshold on it.
    * Docs where only one class scores (no runner-up) are excluded —
    * margin is undefined there. Columns:
    * (margin_bin, n, n_correct, acc_pm), all integers. */
  def holdoutCalibration(df: DataFrame, text: Column, id: Column, label: Column,
      holdMod: Int, buckets: Int = 256, scaleBits: Int = 40,
      marginWidth: Long = 128L): DataFrame = {
    val isHeld = pmod(id, lit(holdMod.toLong)) === 0
    val m = model(df.filter(!isHeld), text, id, label, buckets, scaleBits)
    val testTok = tokens(df.filter(isHeld), text, id, label, buckets)
    val scored = testTok
      .join(broadcast(m), Seq("f"))
      .groupBy(col("doc_id"), col("true_label"), col("lab"))
      .agg((sum("w") + max("prior")).as("score"))
    val rk = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("lab").asc))
    // top-2 per doc in the ONE doc_id exchange; the per-doc pivot
    // reuses that clustering (groupBy doc_id), so no further shuffle
    val per = scored.withColumn("__rk", rk).filter(col("__rk") <= 2)
      .groupBy("doc_id")
      .agg(
        max(when(col("__rk") === 1, (col("true_label") === col("lab")).cast("long"))).as("ok"),
        max(when(col("__rk") === 1, col("score"))).as("s1"),
        max(when(col("__rk") === 2, col("score"))).as("s2"))
      .filter(col("s2").isNotNull)
    per.groupBy(expr(s"(s1 - s2) div $marginWidth").as("margin_bin"))
      .agg(count(lit(1)).as("n"), sum("ok").as("n_correct"))
      .withColumn("acc_pm", expr("(n_correct * 1000) div n"))
  }
}
