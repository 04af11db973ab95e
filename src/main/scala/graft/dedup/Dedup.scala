package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One record of the sorted-neighborhood pass: tag 0 = emitted pair
  * (docA, docB, dist); tag 1 = partition-boundary row (docA = id at
  * local position `pos` of partition `part`, which holds `cnt` rows).
  * Top-level so the product encoder can codegen it. */
case class SnmRec(tag: Int, docA: Long, docB: Long, dist: Long,
    part: Int, pos: Long, cnt: Long)

/** Worst-case bound on per-gram pair work for the exact gram-overlap
  * operators ([[Dedup.ngramJaccardPairs]] / [[Dedup.containmentPairs]]).
  * A gram shared by d docs emits C(d,2) candidate pairs, and one hot
  * gram (boilerplate n-grams in a scraped corpus) can concentrate the
  * whole job on a single key — the same failure mode [[graft.similarity.CellCap]]
  * bounds for SemDeDup cells, so the same policy surface. */
sealed trait DocFreqCap
object DocFreqCap {
  /** Relative cap: max(64, 4× the MEASURED mean doc frequency over
    * candidate grams, df ≥ 2) — integer arithmetic
    * (`sum(df) div count`), engine-replayable. Adaptive for
    * lightly-skewed corpora (follows the distribution instead of a
    * magic number), but NOT the default: on a hot-vocab corpus the
    * mean df scales with the corpus' own heat, so the cap never
    * binds — the r10 ×16 amplified profile measured the Auto default
    * at 39.9 s / α≈1.9 (indistinguishable from [[Unbounded]]) while
    * an absolute cap ran flat. A relative statistic cannot bound
    * absolute C(df,2) work. */
  case object Auto extends DocFreqCap
  /** No cap: the exact all-pairs-per-gram sweep regardless of skew —
    * opt-in, for corpora known to be stop-gram-free or small. */
  case object Unbounded extends DocFreqCap
  /** Explicit absolute cap. `Fixed(64)` is the DEFAULT for the exact
    * gram-pair operators: per-gram pair work is hard-bounded at
    * C(64,2) whatever the corpus looks like (the `winnowPairs`
    * maxDocFreq=50 precedent), and pairs reachable ONLY through
    * >64-doc grams cannot clear a meaningful τ anyway. Measured flat
    * (2.3–2.5 s, α≈0) at ×16 where Auto/Unbounded went quadratic
    * (dev/scaleup_r10.json). */
  final case class Fixed(cap: Long) extends DocFreqCap
}

/** Deduplication operators for training-data pipelines (SURVEY.md §2.3).
  *
  * All stages are declarative Column expressions — shingling, hashing,
  * banding and candidate generation run inside whole-stage codegen /
  * native expression eval; the only shuffles are keyed on band/gram
  * keys, the canonical LSH-on-MapReduce shape. MinHash banding has
  * two outputs: [[minhashCandidatePairs]] (every pair per bucket, a
  * band-key self-join) for consumers of pairs, and
  * [[minhashClusterEdges]] (one star edge per bucket member, a window
  * over the band key) for consumers of connected components — a
  * spanning edge set gives the same components, linear in bucket size.
  *
  * Hash family is selectable: xxhash64 (fast path, codegen'd) or
  * md5-lexicographic (engine-portable, used by the DuckDB oracles).
  */
object Dedup {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Word n-gram shingles WITH duplicates; empty array when the doc
    * is shorter than n tokens, empty array for null text.
    *
    * Backed by the native [[org.apache.spark.sql.graft.WordShingles]]
    * expression (codegen'd tight loop). The equivalent HOF
    * formulation — transform(sequence, i -> concat_ws(element_at ×
    * n)) — is interpreted and re-evaluated per consumer branch;
    * measured ~10× slower on the dedup queries. */
  def shinglesRaw(text: Column, n: Int): Column =
    coalesce(
      org.apache.spark.sql.graft.GraftTextFunctions.wordShingles(text, n),
      array().cast("array<string>"))

  /** Distinct word n-gram shingles. array_distinct is interpreted
    * O(len²) per row — prefer [[shinglesRaw]] + a distributed
    * `.distinct()` after explode when the consumer needs set
    * semantics over many documents. */
  def shingles(text: Column, n: Int): Column = array_distinct(shinglesRaw(text, n))

  /** Exact dedup: group identical payloads by content hash, keep the
    * row with the minimum id per group. One shuffle on the (uniform)
    * hash key — skew-free by construction. */
  def exactDedupKeyed(df: DataFrame, payload: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(md5(payload)).orderBy(id)
    df.withColumn("fp", md5(payload))
      .withColumn("__rn", row_number().over(w))
      .withColumn("group_n", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Portable MinHash value for one seed: lexicographic min of
    * md5(seed || '|' || shingle). A valid min-wise hash family, and
    * reproducible in any engine with md5. */
  def minhashMd5(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr, g => md5(concat(lit(s"$seed|"), g))))

  /** Fast MinHash value (xxhash64, codegen'd) — the 100 TB path. */
  def minhashFast(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr, g => xxhash64(lit(seed), g)))

  /** MinHash signatures, computed in the scalable shape: explode
    * shingles once, then ONE hash aggregate with k min-hash
    * aggregates — each gram row is hashed k times inside whole-stage
    * codegen. (Computing k minhashes as nested array HOFs instead
    * re-evaluates the shingle expression per hash with interpreted
    * eval — 50x slower at sf0.1.) Min is duplicate-insensitive, so
    * shingle dedup is unnecessary. */
  def minhashSignatures(
      df: DataFrame,
      text: Column,
      id: Column,
      shingleN: Int,
      numHashes: Int,
      portable: Boolean
  ): DataFrame = {
    val grams = df.select(id.as("doc_id"), explode(shinglesRaw(text, shingleN)).as("g"))
    // fast path mins the LONG hash values (numeric order) so signatures
    // are bit-compatible with minhashFast's array_min; only the portable
    // md5 family mins lexicographically (its documented order).
    val mhAggs = (0 until numHashes).map { s =>
      val h =
        if (portable) min(md5(concat(lit(s"$s|"), col("g"))))
        else min(xxhash64(lit(s), col("g")))
      h.as(s"mh$s")
    }
    grams.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
  }

  /** LSH band keys: one (doc_id, band_id, band_key) row per band, the
    * join key of every banded-LSH shape below. */
  def minhashBandKeys(
      df: DataFrame,
      text: Column,
      id: Column,
      shingleN: Int,
      numBands: Int,
      rowsPerBand: Int,
      portable: Boolean
  ): DataFrame = {
    val sig = minhashSignatures(df, text, id, shingleN, numBands * rowsPerBand, portable)
    val bandCols = (0 until numBands).map { b =>
      md5(concat_ws("|", (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*))
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band_id", "band_key")))
  }

  /** Candidate pairs from MinHash-LSH banding: one self-join on
    * (band_id, band_key). Band keys are uniform hashes → the shuffle
    * is skew-free; pairs are deduped across bands and oriented
    * idA < idB to halve the verification work. A bucket of |B| docs
    * emits C(|B|,2) pairs — the right input for consumers that read
    * pairs AS pairs (verification, recall audits, triangles, pair
    * ledgers); consumers that only need connected components take
    * [[minhashClusterEdges]], which spans the same graph in |B| − 1
    * edges per bucket. */
  def minhashCandidatePairs(
      df: DataFrame,
      text: Column,
      id: Column,
      shingleN: Int = 3,
      numBands: Int = 4,
      rowsPerBand: Int = 2,
      portable: Boolean = false
  ): DataFrame = {
    val keyed = minhashBandKeys(df, text, id, shingleN, numBands, rowsPerBand, portable)
    keyed
      .as("a")
      .join(
        keyed.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** A spanning edge set of the [[minhashCandidatePairs]] graph: one
    * star edge (doc_a = bucket minimum, doc_b = member) per member of
    * each (band_id, band_key) bucket, deduped across bands. Each
    * bucket is a clique in the all-pairs graph and a star here, so
    * both graphs have the same nodes and the same connected components
    * — [[Components.connectedComponents]] of either is bit-equal —
    * while a bucket of |B| docs costs |B| − 1 edges instead of
    * C(|B|,2). That linear bound is what keeps a boilerplate bucket
    * from blowing up the pair graph (the star contraction of
    * [[Components.connectedComponentsStar]], applied per bucket).
    *
    * One exchange on the band key (the window), no self-join.
    * `doc_a < doc_b` holds as in the pair graph; null ids drop out
    * (`doc_id != root` is null for them) exactly as `a.doc_id <
    * b.doc_id` drops them, and rows sharing an id share one signature,
    * so an id never pairs with itself. */
  def minhashClusterEdges(
      df: DataFrame,
      text: Column,
      id: Column,
      shingleN: Int = 3,
      numBands: Int = 4,
      rowsPerBand: Int = 2,
      portable: Boolean = false
  ): DataFrame =
    minhashBandKeys(df, text, id, shingleN, numBands, rowsPerBand, portable)
      .withColumn("__root", min("doc_id").over(Window.partitionBy("band_id", "band_key")))
      .filter(col("doc_id") =!= col("__root"))
      .select(col("__root").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()

  /** Incremental corpus update: split `batch` into rows that are
    * MinHash-LSH near-dups of the EXISTING corpus vs novel rows, and
    * return the novel ones — the shape a training pipeline runs on
    * every new crawl drop. The corpus side is never self-joined and
    * never reshuffled beyond its band-key aggregation: each batch doc
    * probes corpus band keys (uniform hashes, skew-free), so
    * incremental cost is O(batch) probes against O(corpus) keys, not
    * a rebuild of the full pair graph. A doc is a dup if ANY of its
    * bands collides with any corpus band (same collision rule as
    * [[minhashCandidatePairs]]).
    *
    * `corpusText`/`corpusId` band-key the corpus side when its column
    * names differ from the batch's (each side resolves its own
    * Columns; passing the batch's columns against a corpus that lacks
    * them would fail analysis). Default: same columns as the batch. */
  def minhashNovel(
      corpus: DataFrame,
      batch: DataFrame,
      text: Column,
      id: Column,
      shingleN: Int = 3,
      numBands: Int = 4,
      rowsPerBand: Int = 2,
      portable: Boolean = false,
      corpusText: Option[Column] = None,
      corpusId: Option[Column] = None
  ): DataFrame = {
    val corpusBands = minhashBandKeys(corpus, corpusText.getOrElse(text),
        corpusId.getOrElse(id), shingleN, numBands, rowsPerBand, portable)
      .select(col("band_id").as("__cb_id"), col("band_key").as("__cb_key"))
    val batchBands = minhashBandKeys(batch, text, id, shingleN, numBands, rowsPerBand, portable)
    val dupIds = batchBands
      .join(corpusBands,
        col("band_id") === col("__cb_id") && col("band_key") === col("__cb_key"),
        "left_semi")
      .select(col("doc_id").as("__dup_id"))
      .distinct()
    batch.join(dupIds, id === col("__dup_id"), "left_anti")
  }

  /** Exact n-gram Jaccard similarity pairs: group docs by gram, emit
    * candidate pairs from each gram's (sorted, deduped) doc list,
    * count intersections, compute |A∩B|/|A∪B|.
    *
    * Plan shape (one gram pass per branch, two branches total):
    * grouping by gram with collect_set replaces both the pre-distinct
    * AND the gram self-join of the textbook formulation — grams held
    * by a single doc never leave the aggregate, and a pair meets once
    * per shared gram without materializing two shuffled copies of the
    * gram table.
    *
    * Scale note: a gram shared by d docs emits C(d,2) pairs — that is
    * the inherent candidate cost, identical to the self-join shape;
    * `maxDocFreq` drops grams present in more than the cap's docs
    * (standard stop-gram filtering, and it also bounds the collected
    * list) — pairs sharing ONLY ultra-common grams can't reach a
    * meaningful τ anyway. [[DocFreqCap.Fixed]](64) is the default —
    * the ABSOLUTE bound: both the unbounded sweep and the relative
    * Auto cap measured α≈1.9 super-linear on a hot-vocab ×16
    * amplification (the mean df a relative cap follows scales with
    * the corpus' own heat) while Fixed(64) stayed flat, so a 100 TB
    * run is bounded without tuning; pass [[DocFreqCap.Unbounded]] to
    * buy the exact sweep knowingly. Per-doc gram counts (`na`/`nb`)
    * always count the FULL distinct gram set — the cap prunes
    * candidate generation and intersection evidence only. */
  def ngramJaccardPairs(
      df: DataFrame,
      text: Column,
      id: Column,
      n: Int = 3,
      tau: Double = 0.5,
      maxDocFreq: DocFreqCap = DocFreqCap.Fixed(64)
  ): DataFrame =
    gramPairStats(df, text, id, n, maxDocFreq)
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ tau over
    * word-`n`-gram sets. Containment catches the case Jaccard
    * structurally misses — a short document embedded verbatim inside a
    * much longer one (quote farms, boilerplate wrappers), where the
    * union term drowns the overlap. Same one-reshape plan (and the
    * same default [[DocFreqCap.Fixed]](64) stop-gram bound) as
    * [[ngramJaccardPairs]]. */
  def containmentPairs(
      df: DataFrame,
      text: Column,
      id: Column,
      n: Int = 3,
      tau: Double = 0.8,
      maxDocFreq: DocFreqCap = DocFreqCap.Fixed(64)
  ): DataFrame =
    gramPairStats(df, text, id, n, maxDocFreq)
      .withColumn("containment", col("i").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= tau)
      .select(col("doc_a"), col("doc_b"), col("containment"))

  /** The stop-gram audit — WHAT a [[DocFreqCap]] drops and what that
    * saves: every candidate gram (df ≥ 2) whose doc frequency exceeds
    * the cap, with its df and the C(df,2) pair work it would have
    * injected into the exact pair sweep. The default matches the pair
    * operators' [[DocFreqCap.Fixed]](64), so the audit names exactly
    * the grams those defaults prune — the transparency report beside
    * the safety default; pass [[DocFreqCap.Auto]] to see what the
    * relative mean-df cap would have dropped instead. Output is stop-gram-sized (tiny by
    * construction); gram TEXT is carried because this is an audit for
    * humans, not a corpus reshape. */
  def stopGrams(df: DataFrame, text: Column, id: Column, n: Int = 3,
      cap: DocFreqCap = DocFreqCap.Fixed(64)): DataFrame = {
    val g = df.select(id.as("doc_id"), explode(shingles(text, n)).as("g"))
    val freq = g.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") >= 2)
    val withCap = cap match {
      case DocFreqCap.Unbounded =>
        freq.withColumn("cap", lit(Long.MaxValue))
      case DocFreqCap.Fixed(c) =>
        require(c >= 1, "cap must be >= 1")
        freq.withColumn("cap", lit(c))
      case DocFreqCap.Auto =>
        val capped = graft.operators.Checkpoints.eager(freq)
        val stats = capped.agg(greatest(lit(64L),
          lit(4L) * expr("sum(df) div greatest(count(1), 1)")).as("cap"))
        capped.crossJoin(broadcast(stats))
    }
    withCap.filter(col("df") > col("cap"))
      .select(col("g"), col("df"), expr("(df * (df - 1)) div 2").as("pair_cost"), col("cap"))
  }

  /** Shared plan for gram-overlap pair scoring: group docs BY GRAM
    * (bounded lists under `maxDocFreq`), emit ordered pairs per gram,
    * count shared grams, then join per-doc distinct gram set sizes.
    * Returns (doc_a, doc_b, i, na, nb). */
  private def gramPairStats(
      df: DataFrame,
      text: Column,
      id: Column,
      n: Int,
      maxDocFreq: DocFreqCap
  ): DataFrame = {
    // fingerprint-width discipline: both corpus-sized exchanges (the
    // per-doc distinct count and the group-by-gram) key on a 128-bit
    // two-lane xxhash fingerprint — gram TEXT never shuffles, and a
    // spurious shared gram needs both 64-bit lanes to collide
    // (~(#grams)^2 * 2^-129, negligible at corpus scale)
    val g0 = df.select(id.as("doc_id"), explode(shinglesRaw(text, n)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h1"), xxhash64(lit(7L), col("g")).as("h2"))
    // per-doc distinct gram count (set semantics without a separate shuffle)
    val sizes = g0.groupBy("doc_id").agg(count_distinct(col("h1"), col("h2")).as("n"))
    val byGram0 = g0.groupBy("h1", "h2").agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val byGram = maxDocFreq match {
      case DocFreqCap.Unbounded => byGram0
      case DocFreqCap.Fixed(cap) =>
        require(cap >= 1, "maxDocFreq cap must be >= 1")
        byGram0.filter(size(col("ds")) <= cap)
      case DocFreqCap.Auto =>
        // cap = max(64, 4 × mean df over candidate grams) in pure
        // integer arithmetic (engine-portable). The gram table is
        // materialized ONCE (eager checkpoint, the Components/GraphOps
        // pattern — Catalyst plans the 1-row stats branch and the
        // filter branch as two independent scans, and AQE's stage
        // cache does not unify them because the pruned projections
        // differ); the cap then costs one reduce pass over the
        // checkpointed gram blocks, never a second shuffle of the
        // corpus-sized gram stream.
        val grams = graft.operators.Checkpoints.eager(byGram0)
        val stats = grams.agg(greatest(lit(64L),
          lit(4L) * expr("sum(size(ds)) div greatest(count(1), 1)")).as("__cap"))
        grams.crossJoin(broadcast(stats))
          .filter(size(col("ds")) <= col("__cap"))
          .select(col("h1"), col("h2"), col("ds"))
    }
    val pairs = byGram
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "doc_a")))
      .select(col("doc_a"), explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("doc_b"))
    pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
  }

  /** Fuzzy (edit-distance) join: pairs of docs within `maxDist`
    * Levenshtein edits. Candidates are blocked on shared word
    * shingles with document frequency in [2, maxDocFreq] (the
    * standard blocking trade: rarer-than-stop-gram features) AND at
    * least `minSharedGrams` shared shingles (count filtering — docs
    * within a few edits share almost their whole gram set, while
    * unrelated docs sharing one common phrase are dropped before the
    * expensive DP), then cheap length pre-filtering, then the exact
    * distance — the O(n·m) levenshtein only ever runs on the
    * surviving candidates, never n². */
  def editDistancePairs(
      df: DataFrame,
      text: Column,
      id: Column,
      maxDist: Int,
      shingleN: Int = 3,
      maxDocFreq: Long = 50,
      minSharedGrams: Long = 3
  ): DataFrame = {
    val base = df.select(id.as("doc_id"), text.as("__t"))
    // carry the text length with each gram: the |len_a − len_b| ≤ maxDist
    // necessary condition then prunes pairs INSIDE the gram self-join,
    // before they are aggregated — far fewer rows reach the groupBy
    // the three gram exchanges (distinct, doc-freq count, self-join)
    // key on a 128-bit two-lane fingerprint, never gram text; a lane
    // collision can only ADD a candidate pair, and the exact
    // levenshtein below filters it — exactness is unaffected
    // hash-cluster by the fingerprint BELOW the dedup distinct:
    // hash(h1, h2) satisfies the distinct's clustering, and every
    // downstream gram operation — the doc-freq aggregate, the keep
    // join, the blocked self-join — keys on (h1, h2), so this ONE
    // exchange serves all of them (guide §2.4; previously the
    // distinct, the aggregate and the join each exchanged gram rows)
    val g0 = base.select(col("doc_id"), length(col("__t")).as("__len"),
      explode(shinglesRaw(col("__t"), shingleN)).as("g"))
      .select(col("doc_id"), col("__len"),
        xxhash64(col("g")).as("h1"), xxhash64(lit(7L), col("g")).as("h2"))
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("h1"), col("h2"))
      .distinct()
    val keep = g0.groupBy("h1", "h2").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDocFreq).select("h1", "h2")
    val g = g0.join(keep, Seq("h1", "h2"))
    val cand = g.as("a")
      .join(g.as("b"), col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2")
        && col("a.doc_id") < col("b.doc_id")
        && abs(col("a.__len") - col("b.__len")) <= maxDist)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minSharedGrams)
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("__t").as("__ta")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("__t").as("__tb")), "doc_b")
      // threshold variant short-circuits the DP once a row's distance
      // provably exceeds maxDist (returns -1, filtered out); kept
      // distances are identical to the unbounded computation
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("dist").between(0, maxDist))
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** SimHash bit width for the portable (md5-derived, 60-bit) family. */
  val SimHashBits = 60

  /** Portable 60-bit token hash: first 15 hex chars of md5 as a long.
    * Reproducible in DuckDB as ('0x' || substr(md5(t),1,15))::BIGINT. */
  def portableTokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** SimHash fingerprints: per document, bit j of the fingerprint is
    * the majority vote of bit j across all token hashes (ties → 0).
    * Near-dup candidates are pairs with small hamming distance
    * (use [[hammingDist]] = bit_count(a ^ b)).
    *
    * ZERO shuffles: the whole vote runs inside the native
    * [[org.apache.spark.sql.graft.SimHash60]] expression — the
    * composed formulation (explode tokens → 60 bit-sum aggregates per
    * doc) shipped every token of the corpus through the per-doc
    * aggregation exchange. Null-text docs drop, matching the
    * aggregate formulation (explode of null emits no rows). */
  def simhash(df: DataFrame, text: Column, id: Column): DataFrame =
    df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        org.apache.spark.sql.graft.GraftTextFunctions.simHash60(text).as("simhash"))

  /** Hamming distance between two 64-bit fingerprints (codegen'd). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a hamming radius. The self-join is
    * blocked on 16-bit fingerprint segments (a fingerprint pair within
    * hamming distance d ≤ 3 shares at least one of 4 segments —
    * pigeonhole), so the join key is selective at scale. */
  def simhashPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "segment blocking assumes 4 segments / radius <= 3")
    val seg = (df: DataFrame) =>
      df.select(
        col("doc_id"),
        col("simhash"),
        posexplode(array((0 until 4).map(i => shiftright(col("simhash"), i * 15).bitwiseAND(0x7fff)): _*))
          .as(Seq("seg_id", "seg"))
      )
    seg(fps)
      .as("a")
      .join(
        seg(fps).as("b"),
        col("a.seg_id") === col("b.seg_id") && col("a.seg") === col("b.seg") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        hammingDist(col("a.simhash"), col("b.simhash")).as("hamming")
      )
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo): globally sort
    * by a fingerprint key, slide a window of `window` rows, and emit
    * the candidate pairs inside the window — the classic entity-
    * resolution complement to LSH (catches near-dups whose EDITS are
    * at the end of the document, where a prefix fingerprint sorts
    * them adjacent regardless of which shingles changed).
    *
    * Scale shape: the global rank comes from
    * [[graft.operators.Ordering.globalRank]] (range shuffle, no
    * single-task window), and the windowed self-join is block-keyed —
    * with B = window-1, the smaller-rank side keys on its home block
    * floor(r/B); the larger side is exploded to (home, home-1). Two
    * ranks within distance ≤ B always meet in exactly one block, so
    * the join emits each pair once, no post-distinct. Candidates are
    * ≤ N·(window-1) by construction — skew-free, no quadratic key. */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      id: Column,
      sortKey: Column,
      window: Int
  ): DataFrame = {
    require(window >= 2, "window must cover at least one neighbor")
    val b = window - 1
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = df
      .select(sortKey.cast("string").as("__k"), id.cast("long").as("doc_id"))
      .repartitionByRange(col("__k"), col("doc_id"))
      .sortWithinPartitions(col("__k"), col("doc_id"))
      .as[(String, Long)]
    // ONE pass per partition: a B-slot ring buffer emits every
    // within-partition pair as rows stream by (never materializing the
    // partition), then the partition's first/last B rows are emitted as
    // boundary records. The two consumers below share the range
    // exchange (the subtree under it is deterministic → ReuseExchange),
    // so the corpus is shuffled exactly once.
    val tagged = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val ring = new Array[Long](b)
      val headIds = new scala.collection.mutable.ArrayBuffer[Long](b)
      var pos = 0L
      val pairs = it.flatMap { case (_, idv) =>
        val lim = math.min(pos, b.toLong).toInt
        val out = new Array[SnmRec](lim)
        var d = 1
        while (d <= lim) {
          out(d - 1) = SnmRec(0, ring(((pos - d) % b).toInt), idv, d.toLong, pid, 0L, 0L)
          d += 1
        }
        ring((pos % b).toInt) = idv
        if (pos < b) headIds += idv
        pos += 1
        out.iterator
      }
      // boundary records are built only after `pairs` is exhausted
      // (Iterator.++ pulls the right side lazily), when cnt is known
      pairs ++ Iterator.single(()).flatMap { _ =>
        val cnt = pos
        val headPos = 0L until math.min(b.toLong, cnt)
        val tailPos = math.max(0L, cnt - b) until cnt
        (headPos ++ tailPos).distinct.iterator.map { p =>
          val idv = if (p < b) headIds(p.toInt) else ring((p % b).toInt)
          SnmRec(1, idv, 0L, 0L, pid, p, cnt)
        }
      }
    }
    val within = tagged.filter(_.tag == 0)
      .select(col("docA").as("doc_a"), col("docB").as("doc_b"), col("dist").as("rank_dist"))
    // Cross-partition stitch: every global pair within distance B that
    // spans partitions lives entirely inside the boundary set (any row
    // between its ends is within B of its own partition's edge), so one
    // tiny task — 2B rows per partition, not the corpus — recovers the
    // exact global positions from the per-partition counts and slides
    // the same window. Same-partition pairs are skipped (pass 1 owns them).
    val cross = tagged.filter(_.tag == 1)
      .repartition(1).sortWithinPartitions("part", "pos")
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.length < 2) Iterator.empty
        else {
          val ded = {
            val seen = scala.collection.mutable.HashSet.empty[(Int, Long)]
            rows.filter(r => seen.add((r.part, r.pos)))
          }
          val totalBefore = {
            val m = scala.collection.mutable.HashMap.empty[Int, Long]
            var cum = 0L
            ded.map(r => (r.part, r.cnt)).distinct.sortBy(_._1).foreach { case (p, c) =>
              m(p) = cum; cum += c
            }
            m
          }
          val g = ded.map(r => (totalBefore(r.part) + r.pos, r.part, r.docA)).sortBy(_._1)
          val out = scala.collection.mutable.ArrayBuffer.empty[SnmRec]
          var i = 0
          while (i < g.length) {
            var j = i + 1
            while (j < g.length && g(j)._1 - g(i)._1 <= b) {
              if (g(j)._2 != g(i)._2)
                out += SnmRec(0, g(i)._3, g(j)._3, g(j)._1 - g(i)._1, 0, 0L, 0L)
              j += 1
            }
            i += 1
          }
          out.iterator
        }
      }
      .select(col("docA").as("doc_a"), col("docB").as("doc_b"), col("dist").as("rank_dist"))
    within.union(cross)
  }
}
