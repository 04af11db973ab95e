package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact phrase search over a document corpus — "which documents
  * contain these phrases, and how often" (attribution, targeted
  * decontamination, grep-at-scale). Posting-list design:
  *
  *  1. the phrase set (assumed small — it is the QUERY) broadcasts as
  *     (phrase, k, token-fingerprint) rows;
  *  2. the corpus explodes once into positional postings
  *     (doc, pos, fp), immediately semi-joined against the broadcast
  *     phrase-token set — only positions of phrase vocabulary survive
  *     (for typical phrase sets that is a sliver of the corpus, and
  *     the parquet scan itself stays one pass);
  *  3. every posting matching a phrase's FIRST token opens a
  *     candidate (phrase, doc, start); each candidate must then hit a
  *     posting at (doc, start+k) for every k of the phrase — one
  *     equi-join between two phrase-vocabulary-sized frames;
  *  4. candidates with |phrase| hits are occurrences (overlapping
  *     occurrences all count: starts, not covered spans).
  *
  * Tokens travel as 128-bit two-lane xxhash fingerprints (the r8
  * shuffle-width discipline) — token TEXT never reaches an exchange;
  * a fingerprint collision would need both 64-bit lanes to collide on
  * the same (doc, pos).
  *
  * Tokenization matches the engine convention: lowercase,
  * whitespace-split — a phrase matches iff its token sequence appears
  * verbatim in the document's token sequence.
  */
object Search {

  private def fp(tok: Column): Seq[Column] =
    Seq(xxhash64(tok).as("t1"), xxhash64(lit(7L), tok).as("t2"))

  /** The corpus's positional-postings relation (doc_id, pos, t1, t2)
    * — the tokenize+explode pass every probe otherwise re-pays, and
    * exactly what [[SearchIndex]] persists bucketed. */
  private[text] def postings(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.select(id.as("doc_id"),
        posexplode(TextAnalysis.tokenize(lower(text))).as(Seq("pos", "__tok")))
      .select(col("doc_id") +: col("pos") +: fp(col("__tok")): _*)

  /** One row per (phrase, doc) with the number of (possibly
    * overlapping) occurrences. Phrases with no match emit nothing. */
  def phraseOccurrences(docs: DataFrame, text: Column, id: Column,
      phrases: DataFrame, phraseText: Column, phraseId: Column): DataFrame =
    occurrencesFromPostings(postings(docs, text, id), phrases, phraseText, phraseId)

  /** The probe core over ANY postings relation — fresh (computed by
    * [[phraseOccurrences]]) or persisted ([[SearchIndex.probe]]);
    * identical results by shared code path. */
  private[text] def occurrencesFromPostings(posts: DataFrame,
      phrases0: DataFrame, phraseText: Column, phraseId: Column): DataFrame = {
    // the phrase relation feeds FOUR broadcast builds below (vocabulary
    // semi-join, start tokens, full position checks, lengths) and is
    // often itself an expensive pipeline (q_phrase_search derives it
    // from a full corpus gram-frequency aggregate) — materialize the
    // tiny (k-row) frame once instead of re-running that aggregate per
    // broadcast (guide §1.2; measured 4 corpus gram-count passes in
    // the r16 before-plan)
    val phrases = graft.operators.Checkpoints.eager(phrases0)
    val phToks = split(trim(lower(phraseText)), "\\s+")
    val ph = phrases
      .select(phraseId.as("phrase"), posexplode(phToks).as(Seq("k", "__tok")))
      .select(col("phrase") +: col("k") +: fp(col("__tok")): _*)
    val plen = phrases.select(phraseId.as("phrase"), size(phToks).as("plen"))

    // positional postings restricted to phrase vocabulary; consumed
    // twice (candidate open + verify), so materialized once — and
    // CLUSTERED + CLAIMED on doc_id: doc_id is a subset of every
    // downstream key set (the 4-key verify join, the per-(phrase, doc,
    // start) hit count, the per-(phrase, doc) occurrence count), so
    // the whole probe below runs with ZERO further exchanges — one
    // restricted-postings exchange replaces the two 4-key join
    // exchanges and the two aggregate exchanges (guide §2.3/§2.4)
    val toks = graft.operators.Checkpoints.eager(
      posts.join(broadcast(ph.select("t1", "t2").distinct()), Seq("t1", "t2"), "left_semi")
        .repartition(posts.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id")),
      Seq("doc_id"))

    val starts = toks
      .join(broadcast(ph.filter(col("k") === 0).drop("k")), Seq("t1", "t2"))
      .select(col("phrase"), col("doc_id"), col("pos").as("start"))
    val checks = starts.join(broadcast(ph), Seq("phrase"))
      .select(col("phrase"), col("doc_id"), col("start"),
        (col("start") + col("k")).as("pos"), col("t1"), col("t2"))
    checks.join(toks, Seq("doc_id", "pos", "t1", "t2"))
      .groupBy("phrase", "doc_id", "start").agg(count(lit(1)).as("__hits"))
      .join(broadcast(plen), Seq("phrase"))
      .filter(col("__hits") === col("plen"))
      .groupBy("phrase", "doc_id").agg(count(lit(1)).as("n_occurrences"))
  }

  /** BM25-ranked retrieval (Robertson–Walker–Jones Okapi weighting,
    * Lucene's positive-idf form) for a bag-of-terms query — the
    * ranking layer the postings family was missing: [[phraseOccurrences]]
    * answers "which documents", BM25 answers "in what order".
    *
    * Exact integer arithmetic throughout. With k₁ = 6/5, b = 3/4 and
    * avgdl = TL/N substituted, each term's contribution clears to
    *
    *   c_t = (idf64 · 22·tf·TL) div (10·TL·tf + 3·TL + 9·dl·N)
    *
    * where idf64 = qlog64(2N+2) − qlog64(2df+1) (Lucene's
    * ln(1 + (N−df+½)/(df+½)) made integral — always positive, no
    * negative-idf edge), TL the corpus token count, dl the document
    * length. One floor division per (doc, term): no float
    * accumulation order exists, so the ranking replays bit-for-bit.
    *
    * Scale shape: one corpus pass explodes tokens and keeps ONLY
    * query-vocabulary hits (the filter runs before the tf aggregate's
    * exchange — the shuffled stream is query-sliver-sized), one
    * corpus aggregate for the 1-row (N, TL) stats; df and stats join
    * back broadcast, and top-k is TakeOrdered (score desc, doc_id) —
    * k+1-ish rows per partition, no global sort. Bound: idf64·22·tf·TL
    * must fit a long — at TL beyond ~10¹³ pre-scale TL and N by one
    * shared power of two (monotone, engine-portable). */
  def bm25Rank(docs: DataFrame, text: Column, id: Column,
      terms: Seq[String], topK: Int): DataFrame = {
    require(terms.nonEmpty && topK >= 1)
    val toksAll = docs.select(id.as("doc_id"), TextAnalysis.tokenize(lower(text)).as("tk"))
    val stats = toksAll.agg(count(lit(1)).cast("long").as("n"),
      sum(size(col("tk"))).cast("long").as("tl"))
    val tf = toksAll
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"), explode(col("tk")).as("t"))
      .filter(col("t").isInCollection(terms))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"), min("dl").as("dl"))
    bm25Score(tf, stats, topK)
  }

  /** The shared BM25 scoring tail over a (doc_id, t, tf, dl) sliver +
    * a 1-row (n, tl) stats frame — df derives from the sliver (a
    * term's df only counts docs CONTAINING it, so the sliver carries
    * exactly the full corpus's df). Used by both the scan path
    * ([[bm25Rank]]) and the persisted-index probe
    * ([[SearchIndex.bm25Probe]]) so the two are bit-identical by
    * shared code, not by luck. */
  private[text] def bm25Score(tf: DataFrame, stats: DataFrame, topK: Int): DataFrame = {
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val q = graft.quality.NaiveBayes.qlog64 _
    tf.join(broadcast(df), Seq("t"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf", q(lit(2L) * col("n") + 2L) - q(lit(2L) * col("df") + 1L))
      .withColumn("__c", expr(
        "(__idf * (22L * tf * tl)) div (10L * tl * tf + 3L * tl + 9L * dl * n)"))
      .groupBy("doc_id").agg(sum("__c").cast("bigint").as("bm25_64"))
      .orderBy(col("bm25_64").desc, col("doc_id").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25_64").desc, col("doc_id").asc)))
  }

  /** The corpus's most frequent word n-grams — a deterministic
    * self-contained phrase set for gates and smoke tests (count ties
    * break to the lexicographically smallest gram). */
  def topPhrases(docs: DataFrame, text: Column, n: Int, k: Int): DataFrame =
    docs.select(explode(graft.dedup.Dedup.shinglesRaw(text, n)).as("phrase"))
      .groupBy("phrase").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("phrase").asc).limit(k)
      .select("phrase")
}
