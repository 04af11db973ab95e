package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Components, Decontam, Dedup, SentenceDedup, SubstringDedup}
import graft.similarity.Similarity
import graft.sources.Tables

/** SURVEY.md §2.3 (dedup) + §2.4 (similarity) queries + DuckDB oracles.
  *
  * Oracles use the md5-lexicographic hash family (portable = true) and
  * integer-quantized cosine so every value is bit-identical across
  * engines; the xxhash64 fast path is covered by ScalaTest specs.
  */
object DedupQueries {

  // materialized ONCE per query (released at the harness's query
  // boundary): every consumer below reads the prepared corpus at
  // least twice (self-joins, corpus + query slice, leave-one-out
  // probes), and each lazy read re-paid the parquet vector decode,
  // the fan-out exchange and the quantization pass (guide §1.2/§5:
  // persist what is reused when recompute is expensive)
  private def quantizedWithNorm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Checkpoints.eager(
      Similarity.prepareQuantized(Tables.embeddings(s, dir), col("embedding"), col("vec_id"), col("label")))

  /** The lifecycle drop the warehouse gate queries apply: updates
    * ≡ 0 mod DiffChangeMod, deletes ≡ 0 mod DiffRemoveMod, inserts
    * ≡ 0 mod DiffAddMod in the NEGATIVE id space (collision-free at
    * any corpus amplification). Shared by q_warehouse_merge and
    * q_warehouse_diff so the two sides cannot drift. */
  private def warehouseDrop(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(PrepParams.DiffRemoveMod)) === 0)
      .select(col("doc_id"), lit(null).cast("string").as("source"),
        lit(null).cast("string").as("text"), lit(true).as("del"))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(PrepParams.DiffChangeMod)) === 0 &&
          pmod(col("doc_id"), lit(PrepParams.DiffRemoveMod)) =!= 0)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" v2")).as("text"), lit(false).as("del")))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(PrepParams.DiffAddMod)) === 0)
        .select((-col("doc_id") - 1).as("doc_id"),
          lit("drop").as("source"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
          lit(false).as("del")))

  /** The SECOND patch layer the merge-on-read gates stack over
    * [[warehouseDrop]] — every shadowing shape a layer fold must get
    * right: re-updates of layer-1's updated keys (newest text wins),
    * resurrections of layer-1-deleted keys, and deletes of
    * layer-1-inserted keys. Legs are key-disjoint within the layer
    * (patches are key-unique by contract). */
  private def patchLayer2(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(PrepParams.DiffChangeMod)) === 0 &&
        pmod(col("doc_id"), lit(PrepParams.DiffRemoveMod)) =!= 0 &&
        pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("source"),
        concat(col("text"), lit(" v3")).as("text"), lit(false).as("del"))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(PrepParams.DiffRemoveMod)) === 0 &&
          pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), lit("resurrect").as("source"),
          concat(lit("back "), col("doc_id").cast("string")).as("text"),
          lit(false).as("del")))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(PrepParams.DiffAddMod)) === 0 &&
          pmod(col("doc_id"), lit(5)) === 0)
        .select((-col("doc_id") - 1).as("doc_id"),
          lit(null).cast("string").as("source"),
          lit(null).cast("string").as("text"), lit(true).as("del")))

  /** The TUPLE-keyed lifecycle drop: deletes and updates keyed on the
    * live (source, doc_id) tuples, inserts that REUSE existing
    * doc_ids under a new source — the rows a single-column key would
    * collide on and a composite key must insert. */
  private def compositeDrop(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(PrepParams.DiffRemoveMod)) === 0)
      .select(col("source"), col("doc_id"), lit(null).cast("string").as("text"),
        lit(true).as("del"))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(PrepParams.DiffChangeMod)) === 0 &&
          pmod(col("doc_id"), lit(PrepParams.DiffRemoveMod)) =!= 0)
        .select(col("source"), col("doc_id"),
          concat(col("text"), lit(" v2")).as("text"), lit(false).as("del")))
      .unionByName(docs
        .filter(pmod(col("doc_id"), lit(PrepParams.DiffAddMod)) === 0)
        .select(lit("drop").as("source"), col("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
          lit(false).as("del")))

  /** Published-and-merged warehouse, built ONCE per (JVM, sf dir) —
    * the zonedLineitem amortization: q_warehouse_diff's operator
    * under test is the time-travel + diff read, not the build (the
    * publish path is what q_warehouse_merge times, on a fresh root
    * every run). */
  private val warehouseCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def mergedWarehouse(s: SparkSession, dir: String): String =
    warehouseCache.computeIfAbsent(dir, d => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_wh_cache").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "doc_id", numBuckets = 16).promoted)
      require(Versioned.merge(warehouseDrop(docs), root, deleted = col("del")).merged)
      root
    })

  /** ZONE-MAPPED published-and-merged warehouse, built ONCE per (JVM,
    * sf dir) — q_warehouse_range's operator under test is the pruned
    * RANGE READ, not the build. The base is pre-clustered on doc_id
    * (repartitionByRange — the documented zone discipline) so
    * create-time file zones are disjoint; the merge's files cover only
    * the drop's keys. */
  private val zonedWarehouseCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def zonedWarehouse(s: SparkSession, dir: String): String =
    zonedWarehouseCache.computeIfAbsent(dir, d => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
        .repartitionByRange(16, col("doc_id")).sortWithinPartitions("doc_id")
      val root = java.nio.file.Files.createTempDirectory("graft_wh_zoned").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "doc_id", numBuckets = 16,
        zoneCols = Seq("doc_id", "source")).promoted)
      require(Versioned.merge(warehouseDrop(docs), root, deleted = col("del")).merged)
      root
    })

  /** BLOOM-sidecar published-and-merged warehouse, built ONCE per
    * (JVM, sf dir): the zonedWarehouse build plus per-file key blooms
    * (promoteBucketed(keyBloomBits) + a merge that rebuilds the
    * sidecar on its staged files) — q_warehouse_lookup_bloom's
    * operator under test is the bloom-pruned point read. The base is
    * repartitioned so buckets span multiple files (the shape the
    * bloom exists for). */
  private val bloomWarehouseCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bloomWarehouse(s: SparkSession, dir: String): String =
    bloomWarehouseCache.computeIfAbsent(dir, d => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
        .repartition(8)
      val root = java.nio.file.Files.createTempDirectory("graft_wh_bloom").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "doc_id", numBuckets = 16,
        keyBloomBits = 1 << 17).promoted)
      require(Versioned.merge(warehouseDrop(docs), root, deleted = col("del")).merged)
      root
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.3/23 exact dedup by content hash, min doc_id representative.
    "q_dedup_exact" -> ((s, dir) =>
      Dedup
        .exactDedupKeyed(Tables.documents(s, dir), col("text"), col("doc_id"))
        .select(col("doc_id"), col("fp"), col("group_n"))),

    // §2.3/24 MinHash-LSH candidate pairs (8 hashes, 4 bands x 2).
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashCandidatePairs(
        Tables.documents(s, dir), col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true
      )),

    // §2.3/26 exact n-gram Jaccard pairs at tau = 0.5 (default
    // DocFreqCap.Fixed(64) stop-gram bound — the oracle replays it).
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("text"), col("doc_id"), n = 3, tau = 0.5)),

    // §2.3/25a-containment: |A∩B|/min(|A|,|B|) — catches short docs
    // embedded verbatim in long ones, which Jaccard's union drowns.
    "q_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), col("text"), col("doc_id"), n = 3, tau = 0.8)),

    // §2.3/25b near-dup clustering: connected components over the
    // minhash star edges — a spanning subset of the pair graph, so the
    // labels equal the recursive-CTE oracle's over all pairs.
    "q_dedup_cluster" -> ((s, dir) => {
      val edges = Dedup.minhashClusterEdges(
        Tables.documents(s, dir), col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
      Components.connectedComponents(edges, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
    }),

    // §2.3/24b3 component-size histogram over the same minhash star
    // edges — the "is one giant cluster about to eat the corpus"
    // diagnostic read before keep-one acts.
    "q_cc_sizes" -> ((s, dir) => {
      val edges = Dedup.minhashClusterEdges(
        Tables.documents(s, dir), col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
      Components.componentSizes(
        Components.connectedComponents(edges, "doc_a", "doc_b"), col("cluster_id"))
    }),

    // §2.3/25b-star: same clustering through large-star/small-star
    // contraction — the adversarial-diameter scale path. Same oracle.
    "q_cluster_star" -> ((s, dir) => {
      val edges = Dedup.minhashClusterEdges(
        Tables.documents(s, dir), col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
      Components.connectedComponentsStar(edges, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
    }),

    // Capstone: end-to-end corpus construction — quality gate (token
    // floor), minhash-LSH near-dup clustering (star edges),
    // keep-one-per-cluster, per-source corpus stats. Every stage is
    // individually oracle-gated elsewhere; this gate proves the
    // COMPOSITION stays exact.
    "q_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("bigint"))
        .filter(col("n_tokens") >= 30)
      val edges = Dedup.minhashClusterEdges(docs, col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
      Components.keepOnePerCluster(docs, col("doc_id"), edges, "doc_a", "doc_b")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    }),

    // Facade capstone: the SAME corpus-construction chain as
    // q_corpus, but written the way a user writes it — through the
    // fluent graft.Corpus facade. Shares q_corpus's oracle SQL, so
    // the facade itself (not just its delegation specs) is
    // hash-gated cross-engine.
    "q_corpus_facade" -> ((s, dir) =>
      graft.Corpus(Tables.documents(s, dir), col("text"), col("doc_id"))
        .qualityFilter(30)
        .nearDedup(portable = true)
        .stats(col("source"))
        .select(col("source"), col("n_docs"), col("total_tokens"))),

    // §2.3/24k drop-attribution ledger: the audited facade chain
    // reports (doc_id, stage_idx, stage) for every document the
    // pipeline dropped — quality floor, then minhash near-dedup
    // (portable family), then the per-source cap. Each doc is
    // attributed to exactly the FIRST stage that removed it; the
    // oracle replays all three stages and takes per-stage set
    // differences.
    "q_drop_ledger" -> ((s, dir) =>
      graft.Corpus(Tables.documents(s, dir), col("text"), col("doc_id"))
        .audited
        .qualityFilter(30)
        .nearDedup(portable = true)
        .capPerSource(col("source"), maxDocs = PrepParams.SourceCapMax)
        .dropLedger),

    // §2.3/24d quality-aware keep: per near-dup cluster keep the
    // LONGEST doc (token count desc, id asc tiebreak) instead of the
    // min id — the keeper is the copy worth training on.
    "q_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("bigint"))
      val edges = Dedup.minhashClusterEdges(docs, col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
      Components.keepBestPerCluster(docs, col("doc_id"), edges, "doc_a", "doc_b",
          Seq(col("n_tokens").desc, col("doc_id").asc))
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),

    // §2.3/22be benchmark decontamination: corpus docs sharing enough
    // distinct n-grams with any "benchmark" doc (every BenchMod-th doc
    // plays the eval set). Corpus grams never shuffle; the benchmark
    // gram set is broadcast; the only exchange is the per-pair hit
    // count. Parameters shared with the oracle via PrepParams.
    "q_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.ngramContamination(
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) =!= 0), col("text"), col("doc_id"),
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) === 0), col("text"), col("doc_id"),
        n = PrepParams.DecontamN, minHits = PrepParams.DecontamMinHits)
    }),

    // §2.3/22be3 semantic decontamination + combined verdict: the
    // n-gram screen (22be) and the hashed-BoW cosine screen side by
    // side — one row per (doc, bench) pair either flags, verdict ∈
    // both | ngram_only | semantic_only. The semantic side catches the
    // paraphrase leakage the gram screen is blind to (spec: a
    // word-shuffled bench doc passes the gram screen, flags here at
    // cos 1.0). Bench side broadcast, corpus embedded in-row; the
    // full-outer verdict join is contamination-bounded.
    "q_decontam_sem" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) =!= 0), col("text"), col("doc_id"),
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) === 0), col("text"), col("doc_id"),
        n = PrepParams.DecontamN, minHits = PrepParams.DecontamMinHits,
        dim = PrepParams.HashDim, tau = PrepParams.SemDecontamTau)
    }),

    // §2.3/26b stop-gram audit: the grams a DocFreqCap(4) would drop
    // from the exact pair sweep, with their df and C(df,2) pair cost —
    // the transparency report beside this round's cap-by-default.
    "q_stop_grams" -> ((s, dir) =>
      Dedup.stopGrams(Tables.documents(s, dir), col("text"), col("doc_id"),
        n = 3, cap = graft.dedup.DocFreqCap.Fixed(4))),

    // §2.3/22be2 ROUGE-style overlap grading of the decontamination
    // screen's flagged pairs: MULTISET n-gram intersection with exact
    // per-mille recall (how much of the eval item is covered) and
    // precision (how much of the doc IS the eval item) — severity
    // triage so removal policy can be graded, not all-or-nothing.
    "q_rouge_overlap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.overlapScores(
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) =!= 0), col("text"), col("doc_id"),
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) === 0), col("text"), col("doc_id"),
        n = PrepParams.DecontamN, minHits = PrepParams.DecontamMinHits)
    }),

    // §2.3/22be5 the BOUNDED grading form: each doc grades only its
    // RougeMaxPairsPerDoc most-severe flags (screen hits desc,
    // bench_id tie-break), so the multiset-intersection work is
    // flag-cap × docs instead of growing with the flagged relation —
    // the production dial for adversarial corpora where one doc flags
    // against thousands of eval items. q_rouge_overlap above stays
    // the uncapped exact anchor; the oracle replays the same top-k
    // window, so a wrong ordering or off-by-one in the cap
    // hash-mismatches.
    "q_rouge_capped" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.overlapScores(
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) =!= 0), col("text"), col("doc_id"),
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) === 0), col("text"), col("doc_id"),
        n = PrepParams.DecontamN, minHits = PrepParams.RougeCapMinHits,
        maxPairsPerDoc = Some(PrepParams.RougeMaxPairsPerDoc))
    }),

    // §2.3/22be5b the cap's loud audit: every doc whose flagged-pair
    // count exceeded the cap, with flagged/graded/skipped counts —
    // empty ⇔ the capped grading is exact. The DocFreqCap discipline
    // (absolute bound + transparency read), oracle-replayed.
    "q_rouge_cap_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.overlapCapAudit(
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) =!= 0), col("text"), col("doc_id"),
        docs.filter(pmod(col("doc_id"), lit(PrepParams.BenchMod)) === 0), col("text"), col("doc_id"),
        n = PrepParams.DecontamN, minHits = PrepParams.RougeCapMinHits,
        maxPairsPerDoc = PrepParams.RougeMaxPairsPerDoc)
    }),

    // §2.3/22bf cross-source overlap matrix: for every source pair,
    // how many distinct document OPENINGS (5-token-prefix md5
    // fingerprint) appear in both — the corpus diagnostic that tells
    // you which crawls duplicate each other (and in what direction to
    // dedup). Pure integer counting; the only shuffles are
    // fingerprint-level (distinct + pair aggregate), never documents.
    "q_source_overlap" -> ((s, dir) => {
      val fp = Tables.documents(s, dir)
        .select(col("source"),
          md5(array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, PrepParams.OpeningTokens), " ")).as("fp"))
        .distinct()
      fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared_openings"))
    }),

    // §2.3/24e incremental corpus update: new batch (doc_id ≡ 0 mod
    // IncrBatchMod) screened against the existing corpus by LSH band
    // collision; returns the novel batch docs. The corpus is probed,
    // never self-joined — the every-crawl-drop shape.
    "q_incr_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashNovel(
        docs.filter(pmod(col("doc_id"), lit(PrepParams.IncrBatchMod)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(PrepParams.IncrBatchMod)) === 0),
        col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // §2.3/24e5 incremental connected-components ledger: the minhash
    // pair graph split into two deterministic drops and appended in
    // sequence to a FRESH ledger — labels after the second append must
    // equal the full-graph clustering exactly (the oracle is the same
    // recursive transitive closure as q_dedup_cluster). This gates the
    // whole incremental path: cluster-graph projection, drop-sized
    // union-find merge, affected-bucket-only relabel.
    "q_cluster_incr" -> ((s, dir) => {
      val pairs = graft.operators.Checkpoints.eager(Dedup.minhashCandidatePairs(
        Tables.documents(s, dir), col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true))
      val path = java.nio.file.Files.createTempDirectory("graft_cluster_incr").toString
      // numBuckets = 16, not the library default 64: the labeling the
      // oracle checks is bucket-count-independent (buckets are the
      // ledger's internal layout), and at this gate's drop size a
      // 64-way layout wrote 64 near-empty files per append from a
      // couple of tasks — the small-files tax (guide §6) on a table
      // whose whole point here is the merge protocol. 16 still
      // exercises multi-bucket partial rewrites on every sf.
      graft.dedup.ClusterLedger.append(path,
        pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 0), "doc_a", "doc_b",
        numBuckets = 16)
      graft.dedup.ClusterLedger.append(path,
        pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) =!= 0), "doc_a", "doc_b",
        numBuckets = 16)
      graft.operators.Checkpoints.release(pairs)
      graft.dedup.ClusterLedger.labels(s, path).withColumnRenamed("id", "doc_id")
    }),

    // §2.3/24e3 corpus snapshot diff: key-level lifecycle audit between
    // two corpus versions (added/removed/changed/unchanged via portable
    // md5 content fingerprints, single full-outer shuffle join carrying
    // ~48 bytes/row). The "new" snapshot is derived deterministically
    // from documents so the oracle reproduces it exactly.
    "q_corpus_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val neu = docs
        .filter(pmod(col("doc_id"), lit(PrepParams.DiffRemoveMod)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(PrepParams.DiffChangeMod)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionAll(docs
          .filter(pmod(col("doc_id"), lit(PrepParams.DiffAddMod)) === 0)
          .select((col("doc_id") + PrepParams.DiffAddOffset).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
      graft.operators.TableDiff.snapshotDiff(
        docs, neu, col("doc_id"), col("doc_id"), col("text"), col("text"),
        keyName = "doc_id")
    }),

    // §2.2/22bh2 key-level MERGE publish: the documents table is
    // published as a bucketed warehouse version, then ONE drop
    // (updates ≡ 0 mod DiffChangeMod, deletes ≡ 0 mod DiffRemoveMod,
    // inserts ≡ 0 mod DiffAddMod at DiffAddOffset — the q_corpus_diff
    // lifecycle family) merges in by rewriting only its touched
    // buckets. Output = the merged live table; the oracle replays the
    // FULL OUTER merge (anti-join survivors ∪ upserts) over the
    // pre-image, so a row lost, duplicated, or mis-routed by the
    // bucket plumbing hash-mismatches.
    "q_warehouse_merge" -> ((s, dir) => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_wh_merge").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "doc_id", numBuckets = 16).promoted)
      val rep = Versioned.merge(warehouseDrop(docs), root, deleted = col("del"))
      require(rep.merged, s"warehouse merge refused: ${rep.reason}")
      Versioned.read(s, root)
    }),

    // §2.2/22bh16 COMPOSITE-key MERGE publish: the same lifecycle
    // keyed on the (source, doc_id) TUPLE — the shape real corpora
    // need (a doc_id is only unique within its source). The insert
    // leg reuses EXISTING doc_ids under a new source ('drop'), so a
    // single-column key would collide where the tuple key must
    // insert; the oracle replays the full-outer merge joined on BOTH
    // columns, so a row mis-keyed on either component
    // hash-mismatches.
    "q_warehouse_merge2" -> ((s, dir) => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_wh_merge2").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "source,doc_id", numBuckets = 16).promoted)
      val rep = Versioned.merge(compositeDrop(docs), root, deleted = col("del"))
      require(rep.merged, s"composite-key warehouse merge refused: ${rep.reason}")
      Versioned.read(s, root)
    }),

    // §2.2/22bh21 MERGE-ON-READ publish (patch): the same lifecycle
    // as q_warehouse_merge lands as TWO pending delta layers —
    // layer 1 the full update/delete/insert drop, layer 2 shadowing
    // it (re-updates, resurrections of deleted keys, deletes of
    // layer-1 inserts) — and the READ reconciles them over the
    // untouched base owner map (broadcast anti-joins; no bucket was
    // rewritten). The oracle replays the two merges sequentially, so
    // a stale shadowed row, a lost layer row, or a wrong-layer win
    // hash-mismatches.
    "q_warehouse_patch" -> ((s, dir) => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_wh_patch").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "doc_id", numBuckets = 16).promoted)
      val p1 = Versioned.patch(warehouseDrop(docs), root, deleted = col("del"))
      require(p1.patched && p1.layers == 1, s"patch 1 refused: ${p1.reason}")
      val p2 = Versioned.patch(patchLayer2(docs), root, deleted = col("del"))
      require(p2.patched && p2.layers == 2, s"patch 2 refused: ${p2.reason}")
      val spec = Versioned.currentManifest(root).flatMap(_.buckets).get
      require(spec.deltas.size == 2 && spec.owner.distinct == Vector("v00001"),
        "patch must leave the base owner map untouched with two pending layers")
      Versioned.read(s, root)
    }),

    // §2.2/22bh21 delta FOLD: the q_warehouse_patch build, then ONE
    // foldDeltas pass — the layers' net per-key effect rewrites only
    // their touched buckets and the published version carries an
    // EMPTY deltas list (read amplification back to zero). Content
    // must be bit-equal to the reconciled read (same oracle).
    "q_warehouse_patch_fold" -> ((s, dir) => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_wh_pfold").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "doc_id", numBuckets = 16).promoted)
      require(Versioned.patch(warehouseDrop(docs), root, deleted = col("del")).patched)
      require(Versioned.patch(patchLayer2(docs), root, deleted = col("del")).patched)
      val f = Versioned.foldDeltas(s, root)
      require(f.merged, s"delta fold refused: ${f.reason}")
      val spec = Versioned.currentManifest(root).flatMap(_.buckets).get
      require(spec.deltas.isEmpty, "fold must publish an empty deltas list")
      Versioned.read(s, root)
    }),

    // §2.2/22bh17 bucket-count evolution (rebucket): the merged
    // warehouse republishes under 4× the buckets — content must be
    // row-identical through the layout change (the oracle is the same
    // merge replay), the new contract owns every bucket, and serving
    // paths hash against it (spec-pinned; this gate pins the VALUES).
    "q_warehouse_rebucket" -> ((s, dir) => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_wh_rebkt").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "doc_id", numBuckets = 8).promoted)
      require(Versioned.merge(warehouseDrop(docs), root, deleted = col("del")).merged)
      val r = Versioned.rebucket(s, root, newBuckets = 32)
      require(r.promoted, s"rebucket refused: ${r.reason}")
      val spec = Versioned.currentManifest(root).flatMap(_.buckets).get
      require(spec.numBuckets == 32 && spec.owner.distinct == Vector(r.path),
        "rebucket must own every bucket under the new count")
      Versioned.read(s, root)
    }),

    // §2.2/22bh3 warehouse change feed: q_warehouse_merge's build
    // (bucketed publish + one lifecycle drop), then the per-key diff
    // of version 2 RELATIVE TO version 1 read back through the
    // manifest chain — gating time travel ACROSS a merge publish plus
    // the diff composition end-to-end. The oracle derives the
    // lifecycle statuses from the base and drop directly.
    "q_warehouse_diff" -> ((s, dir) =>
      graft.sources.Versioned.diffVersions(s, mergedWarehouse(s, dir), 1, 2,
        col("doc_id"), col("text"), keyName = "doc_id")),

    // §2.2/22bh4 SCHEMA-EVOLUTION merge: the lifecycle drop carries a
    // column the table has never seen (`lang`); the merge publishes it
    // on its touched buckets only — every untouched older file is
    // byte-identical and its rows read back null for the new column.
    // The oracle replays the full-outer merge with survivors
    // null-filled, so a widened row that leaked into the wrong leg (or
    // an old row that failed to null-fill) hash-mismatches.
    "q_warehouse_evolve" -> ((s, dir) => {
      import graft.sources.Versioned
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val root = java.nio.file.Files.createTempDirectory("graft_wh_evolve").toString + "/corpus"
      require(Versioned.promoteBucketed(docs, root, "doc_id", numBuckets = 16).promoted)
      val drop = warehouseDrop(docs).withColumn("lang",
        when(col("del"), lit(null).cast("string"))
          .otherwise(when(col("doc_id") < 0, lit("de")).otherwise(lit("en"))))
      val rep = Versioned.merge(drop, root, deleted = col("del"))
      require(rep.merged, s"evolving warehouse merge refused: ${rep.reason}")
      Versioned.read(s, root)
    }),

    // §2.2/22bh8 warehouse point lookup: the serving-path read against
    // the cached zone-mapped warehouse — the key hashes to its bucket
    // under the live layout and the scan touches ONE bucket partition
    // of ONE owning directory (the single-partition property is
    // spec-pinned; this gate pins the VALUE against the merge-replay
    // oracle's point query — a mis-hashed or stale-owner read returns
    // the wrong row or none). Key 3·DiffChangeMod is an UPDATED key,
    // so the lookup must see the post-merge content, not the base.
    "q_warehouse_lookup" -> ((s, dir) =>
      graft.sources.Versioned.lookup(s, zonedWarehouse(s, dir),
        3L * PrepParams.DiffChangeMod)),


    // §2.2/22bh20 bloom-pruned point lookup: the serving read against
    // the bloom-sidecar warehouse — the key's bucket directory spans
    // many files and the per-file key blooms (consulted driver-side,
    // zero extra jobs) skip those that provably lack it; spec pins
    // strictly fewer input files and the one-job property, this gate
    // pins the VALUE against the merge-replay oracle's point query
    // (key 3·DiffChangeMod is an UPDATE — the post-merge row must
    // surface through the bloom path).
    "q_warehouse_lookup_bloom" -> ((s, dir) =>
      graft.sources.Versioned.lookup(s, bloomWarehouse(s, dir),
        3L * PrepParams.DiffChangeMod)),

    // §2.2/22bh6 zone-mapped warehouse range read: the bucketed,
    // zone-mapped warehouse (cached build: promote + one lifecycle
    // merge) answers `doc_id BETWEEN 100 AND 299` by consulting each
    // owning directory's per-file [min, max] manifest BEFORE the scan
    // — pruned files never become tasks (the pruned ≡ plain contract
    // is additionally spec-pinned with file counts; this gate pins the
    // VALUES against the merge-replay oracle filtered to the range).
    "q_warehouse_range" -> ((s, dir) =>
      graft.sources.Versioned.readRange(s, zonedWarehouse(s, dir),
        "doc_id", 100L, 299L)),

    // §2.2/22bh11 STRING zone maps: the same zone-mapped warehouse
    // answers `source BETWEEN 'src10' AND 'src15'` (binary string
    // order — exactly 6 of the 20 sources; the merge's 'drop'-sourced
    // inserts sort below and prune away) from per-file string
    // [min, max] bounds; dates prune the same way as ISO strings.
    // Pruned ≡ plain with fewer files is spec-pinned; this gate pins
    // the VALUES against the merge-replay oracle under DuckDB's own
    // binary collation.
    "q_warehouse_range_str" -> ((s, dir) =>
      graft.sources.Versioned.readRange(s, zonedWarehouse(s, dir),
        "source", "src10", "src15")),

    // §2.3/24f sorted-neighborhood blocking (Hernández–Stolfo): sort
    // by a normalized prefix fingerprint, pair docs within a 5-row
    // window, keep pairs at word-set Jaccard ≥ 0.4 (integer-rational
    // gate). The rank comes from the scalable globalRank (range
    // shuffle + per-partition offsets), not a single-task window.
    "q_sorted_neighbors" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val key = substring(
        regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, PrepParams.SnmKeyLen)
      val pairs = Dedup.sortedNeighborhoodPairs(
        docs, col("doc_id"), key, window = PrepParams.SnmWindow)
      val sets = docs.select(col("doc_id"),
        array_distinct(Dedup.tokens(col("text"))).as("__set"))
      pairs
        .join(sets.select(col("doc_id").as("doc_a"), col("__set").as("__sa")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("__set").as("__sb")), "doc_b")
        .withColumn("i", size(array_intersect(col("__sa"), col("__sb"))).cast("bigint"))
        .withColumn("u",
          (size(col("__sa")) + size(col("__sb"))).cast("bigint") - col("i"))
        .filter(col("u") > 0 &&
          col("i") * PrepParams.SnmTauDen >= col("u") * PrepParams.SnmTauNum)
        .select(col("doc_a"), col("doc_b"), col("rank_dist"), col("i"), col("u"))
    }),

    // §2.3/24h LSH recall audit: how many true Jaccard-τ pairs the
    // banding catches (n_both/n_exact) and how many candidates it
    // spends doing it (n_lsh) — the number that tunes numBands ×
    // rowsPerBand before a 100 TB run. Exact integer counts.
    "q_lsh_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), n = 3, tau = 0.5)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("in_e"))
      val lsh = Dedup.minhashCandidatePairs(docs, col("text"), col("doc_id"),
          shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
        .withColumn("in_l", lit(1L))
      // one full-outer join consumes each pair pipeline exactly once
      // (three separate count branches would recompute both pipelines)
      exact.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          coalesce(sum(col("in_e")), lit(0L)).as("n_exact"),
          coalesce(sum(col("in_l")), lit(0L)).as("n_lsh"),
          coalesce(sum(col("in_e") * col("in_l")), lit(0L)).as("n_both"))
    }),

    // Round-4 capstone: incremental corpus UPDATE — screen the new
    // drop against the existing corpus (minhashNovel), merge the
    // novel docs in, quality-gate, per-source stats. Every stage is
    // individually oracle-gated; this gate proves the round-4
    // composition stays exact (same role q_corpus plays for the
    // build-from-scratch pipeline).
    "q_update_capstone" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("bigint"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(PrepParams.IncrBatchMod)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(PrepParams.IncrBatchMod)) === 0)
      val novel = Dedup.minhashNovel(corpus, batch, col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
      corpus.unionByName(novel)
        .filter(col("n_tokens") >= 30)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    }),

    // §2.3/24i triangles in the near-dup pair graph (mutually-similar
    // doc triples — the strongest merge evidence): degree-oriented
    // wedge closure, exactly one row per triangle.
    "q_triangles" -> ((s, dir) => {
      val pairs = Dedup.minhashCandidatePairs(
        Tables.documents(s, dir), col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = true)
      graft.operators.GraphOps.triangles(pairs, "doc_a", "doc_b")
    }),

    // §2.3/25c fuzzy (edit-distance) join: shingle-blocked candidates,
    // exact levenshtein <= 6.
    "q_fuzzy_join" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir), col("text"), col("doc_id"), maxDist = 6)),

    // §2.3/24j exact substring dedup (Lee et al. 2107.06499): maximal
    // duplicated token spans via rolling-window hashes merged per doc.
    "q_substring_spans" -> ((s, dir) =>
      SubstringDedup.duplicatedSpans(Tables.documents(s, dir), col("text"), col("doc_id"),
        windowTokens = PrepParams.SubstrWindow, minCount = PrepParams.SubstrMinCount)),

    // §2.3/24j2 the keep-first scrub: every non-canonical duplicated
    // window's positions deleted, documents rebuilt.
    "q_substring_scrub" -> ((s, dir) =>
      SubstringDedup.scrubDuplicatedSpans(Tables.documents(s, dir), col("text"), col("doc_id"),
        windowTokens = PrepParams.SubstrWindow, minCount = PrepParams.SubstrMinCount)),

    // §2.3/24c C4 three-sentence-span dedup: sentence-aligned (not
    // token-stride) duplicated spans, punctuation-less sentences
    // subdivided every SentMaxTokens tokens.
    "q_sentence_dedup" -> ((s, dir) =>
      SentenceDedup.duplicatedSentenceSpans(Tables.documents(s, dir),
        col("text"), col("doc_id"), maxSentTokens = PrepParams.SentMaxTokens)),

    // §2.3/25 SimHash fingerprints (60-bit portable family).
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), col("text"), col("doc_id"))),

    // §2.3/27 embedding near-dup pairs, label-blocked, quantized cosine.
    "q_dedup_embedding" -> ((s, dir) =>
      Similarity.cosinePairs(quantizedWithNorm(s, dir), "label", 0.4)),

    // §2.4/28b SQ8 scalar quantization of the embedding corpus —
    // per-vector int8 codes + exact L1 reconstruction error.
    "q_quantize" -> ((s, dir) =>
      Similarity.scalarQuantize(Tables.embeddings(s, dir), col("embedding"), col("vec_id"))),

    // §2.4/28e signed hashed bag-of-words projection (native
    // HashedBow, zero shuffles): every document's 64-dim integer
    // vector, emitted component-wise for the exact per-bucket replay.
    "q_hash_embed" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(graft.text.HashEmbed.hashedBow(col("text"), PrepParams.HashDim))
            .as(Seq("pos", "v")))),

    // §2.4/28f text-only kNN capstone: hashed projections feed the
    // SAME integer-cosine top-k as real embeddings — lexical nearest
    // neighbours with no external encoder, bit-replayed end to end.
    "q_text_knn" -> ((s, dir) => {
      val emb = graft.text.HashEmbed.embedDocuments(
        Tables.documents(s, dir), col("text"), col("doc_id"), PrepParams.HashDim)
      val qs = emb.filter(pmod(col("vec_id"), lit(PrepParams.TextKnnMod)) === 0)
      Similarity.cosineTopK(emb, qs, PrepParams.TextKnnK)
        .withColumn("rank", col("rank").cast("bigint"))
    }),

    // §2.4/28 brute-force cosine top-k for query vectors
    // (id % AnnParams.QueryMod = 0).
    "q_cosine_topk" -> ((s, dir) => {
      val corpus = quantizedWithNorm(s, dir)
      val qs = corpus.filter(pmod(col("vec_id"), lit(AnnParams.QueryMod)) === 0)
      Similarity
        .cosineTopK(corpus, qs, AnnParams.CosineK)
        .withColumn("rank", col("rank").cast("bigint"))
    }),

    // §2.4/28h mutual-kNN (reciprocal nearest neighbor) pairs over
    // the MutualMod population — one-sided hub edges drop, the
    // trustworthy neighbor graph survives.
    "q_mutual_knn" -> ((s, dir) => {
      val corpus = quantizedWithNorm(s, dir)
      val pop = corpus.filter(pmod(col("vec_id"), lit(AnnParams.MutualMod)) === 0)
      Similarity.mutualKnn(pop, AnnParams.MutualK)
        .withColumn("rank_ab", col("rank_ab").cast("bigint"))
        .withColumn("rank_ba", col("rank_ba").cast("bigint"))
    }),

    // §2.4/28b kNN label-agreement audit: majority vote of the KnnK
    // nearest labels vs the query's own label — embedding/label
    // coherence probe, fully oracle-gated (integer-grid cosine).
    "q_knn_classify" -> ((s, dir) => {
      val corpus = quantizedWithNorm(s, dir)
      val qs = corpus.filter(pmod(col("vec_id"), lit(AnnParams.KnnMod)) === 0)
      Similarity.knnClassify(corpus, qs, AnnParams.KnnK)
    }),

    // §2.4/28g triplet / hard-negative mining: per anchor the rank-1
    // same-label positive + TripletNegK nearest different-label
    // negatives, margin violations flagged — the contrastive-training
    // data op; ONE corpus scan, one bounded GroupTopK exchange.
    "q_hard_negatives" -> ((s, dir) => {
      val corpus = quantizedWithNorm(s, dir)
      val anchors = corpus.filter(pmod(col("vec_id"), lit(AnnParams.TripletMod)) === 0)
      Similarity.mineTriplets(corpus, anchors, AnnParams.TripletNegK)
    }),

    // §2.4/28c leave-one-out nearest-centroid probe: every vector
    // scored against each label's self-excluded mean — exact integer
    // sums/dots, corpus never shuffled.
    "q_centroid_classify" -> ((s, dir) =>
      Similarity.centroidClassify(quantizedWithNorm(s, dir))),

    // §2.4/28d label confusion matrix over the centroid probe — the
    // |labels|² audit artifact (which labels bleed into which); one
    // more tiny agg on top of the no-corpus-shuffle probe.
    "q_label_confusion" -> ((s, dir) =>
      Similarity.centroidClassify(quantizedWithNorm(s, dir))
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))),

    // §2.4/28d2 per-class precision/recall/F1 over the centroid probe
    // — same Eval audit layer as q_nb_eval, integer milli metrics.
    "q_centroid_eval" -> ((s, dir) =>
      graft.quality.Eval.perClassMetrics(
        Similarity.centroidClassify(quantizedWithNorm(s, dir)),
        col("true_label"), col("pred_label"))),

    // §2.4/29 LSH-bucketed ANN — fully oracle-gated: the quantized
    // hyperplane matrix is embedded in the oracle SQL, so DuckDB
    // replays the exact bucketing (integer dots) and ranking. All
    // parameters come from AnnParams (shared with annLshSql).
    "q_ann_lsh" -> ((s, dir) => {
      val corpus = quantizedWithNorm(s, dir)
      val qs = corpus.filter(pmod(col("vec_id"), lit(AnnParams.QueryMod)) === 0)
      Similarity
        .annLsh(corpus, qs, bits = AnnParams.LshBits, dim = AnnParams.LshDim, k = AnnParams.LshK)
        .withColumn("rank", col("rank").cast("bigint"))
    })
  )

  // ---- oracle SQL ----------------------------------------------------

  private def shinglesCteOn(src: String): String =
    raw"""sh AS (
         |  SELECT doc_id, list_distinct(list_transform(range(len(toks)-2),
         |                 i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM $src)
         |)""".stripMargin

  private val shinglesCte = shinglesCteOn("documents")

  private def minhashExpr(seed: Int): String =
    s"list_min(list_transform(g, x -> md5('$seed|' || x)))"

  /** CTE chain ending in `pairs(doc_a, doc_b)` over `src` — shared by
    * the minhash pair oracle, the recursive clustering oracle, and the
    * corpus-construction capstone. */
  private def minhashPairCtesOn(src: String): String = {
    val bandKeys = (0 until 4)
      .map(b => s"md5(${minhashExpr(2 * b)} || '|' || ${minhashExpr(2 * b + 1)}) AS k$b")
      .mkString(",\n         ")
    val bandUnion = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band_id, k$b AS band_key FROM mh")
      .mkString("\n  UNION ALL ")
    raw"""${shinglesCteOn(src)},
         |mh AS (
         |  SELECT doc_id,
         |         $bandKeys
         |  FROM sh
         |),
         |bands AS (
         |  $bandUnion
         |),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |)""".stripMargin
  }

  private val minhashPairCtes: String = minhashPairCtesOn("documents")

  private val minhashSql: String =
    raw"""WITH $minhashPairCtes
         |SELECT doc_a, doc_b FROM pairs""".stripMargin

  /** Connected components over the minhash pair graph: transitive
    * closure by recursive CTE, component label = min reachable id —
    * the same fixpoint the Spark label propagation converges to. */
  private val corpusSql: String =
    raw"""WITH RECURSIVE docs AS (
         |  SELECT doc_id, source, text,
         |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE len(string_split_regex(trim(text), '\s+')) >= 30),
         |${minhashPairCtesOn("docs")},
         |sym AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(id, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT s.a, re.r FROM sym s JOIN reach re ON s.b = re.id),
         |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT source, count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM docs d LEFT JOIN comp c ON d.doc_id = c.id
         |WHERE d.doc_id = coalesce(c.cluster_id, d.doc_id)
         |GROUP BY source""".stripMargin

  /** Drop-ledger replay: run the audited chain's three stages as
    * successive CTEs (quality floor → minhash keep-one-per-cluster →
    * per-source cap) and attribute each dropped doc to the first
    * stage whose output no longer contains it. */
  private val dropLedgerSql: String =
    raw"""WITH RECURSIVE s0 AS (
         |  SELECT doc_id, source, text FROM documents),
         |s1 AS (
         |  SELECT * FROM s0
         |  WHERE len(string_split_regex(trim(text), '\s+')) >= 30),
         |${minhashPairCtesOn("s1")},
         |sym AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(id, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT s.a, re.r FROM sym s JOIN reach re ON s.b = re.id),
         |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |s2 AS (
         |  SELECT s1.* FROM s1 LEFT JOIN comp c ON s1.doc_id = c.id
         |  WHERE s1.doc_id = coalesce(c.cluster_id, s1.doc_id)),
         |s3 AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY source
         |             ORDER BY length(text) DESC, doc_id) AS rn
         |    FROM s2)
         |  WHERE rn <= ${PrepParams.SourceCapMax})
         |SELECT doc_id, 1 AS stage_idx, 'quality_filter' AS stage
         |FROM s0 WHERE doc_id NOT IN (SELECT doc_id FROM s1)
         |UNION ALL
         |SELECT doc_id, 2 AS stage_idx, 'near_dedup' AS stage
         |FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM s2)
         |UNION ALL
         |SELECT doc_id, 3 AS stage_idx, 'cap_per_source' AS stage
         |FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM s3)""".stripMargin

  private val clusterSql: String =
    raw"""WITH RECURSIVE $minhashPairCtes,
         |sym AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT s.a, re.r FROM sym s JOIN reach re ON s.b = re.id
         |)
         |SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY id""".stripMargin

  /** keep-best replay: the same recursive closure as clusterSql, then
    * rank within coalesce(cluster, id) by (n_tokens DESC, doc_id ASC). */
  private val keepBestSql: String =
    raw"""WITH RECURSIVE $minhashPairCtes,
         |sym AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
         |  UNION
         |  SELECT s.a, re.r FROM sym s JOIN reach re ON s.b = re.id
         |),
         |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |docs AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |)
         |SELECT doc_id, source, n_tokens FROM (
         |  SELECT d.*, row_number() OVER (
         |    PARTITION BY coalesce(c.cluster_id, d.doc_id)
         |    ORDER BY d.n_tokens DESC, d.doc_id ASC) AS rn
         |  FROM docs d LEFT JOIN comp c ON d.doc_id = c.id
         |) WHERE rn = 1""".stripMargin

  /** DocFreqCap.Fixed(64) replay (the registry default) over the
    * distinct-grams CTE `g`: per-gram doc frequency, the capped gram
    * table `gf` (df ≤ 64 — the ABSOLUTE work bound; r10 measured the
    * relative mean-df cap not binding on hot-vocab amplifications),
    * and the capped pair intersections `inter`. `sizes` stays FULL
    * (uncapped) per-doc counts, matching gramPairStats. */
  private val cappedInterCtes: String =
    raw"""sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
         |df AS (SELECT g, count(*) AS d FROM g GROUP BY g HAVING count(*) >= 2),
         |gf AS (SELECT gg.doc_id, gg.g FROM g gg JOIN df USING (g)
         |       WHERE df.d <= 64),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM gf a JOIN gf b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)""".stripMargin

  private val ngramSql: String =
    raw"""WITH $shinglesCte,
         |g AS (SELECT doc_id, unnest(g) AS g FROM sh),
         |$cappedInterCtes
         |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5""".stripMargin

  private val containmentSql: String =
    raw"""WITH $shinglesCte,
         |g AS (SELECT doc_id, unnest(g) AS g FROM sh),
         |$cappedInterCtes
         |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / least(sa.n, sb.n) AS containment
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= 0.8""".stripMargin

  private val simhashSql: String = {
    val bitSums = (0 until Dedup.SimHashBits).map(j => s"sum((h >> $j) & 1) AS b$j").mkString(", ")
    val fpExpr = (0 until Dedup.SimHashBits)
      .map(j => s"CASE WHEN b$j * 2 > n THEN (1::BIGINT << $j) ELSE 0 END")
      .mkString(" + ")
    raw"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t FROM documents
         |),
         |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
         |a AS (SELECT doc_id, count(*) AS n, $bitSums FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($fpExpr AS BIGINT) AS simhash FROM a""".stripMargin
  }

  private[queries] val quantCte =
    raw"""n AS (
         |  SELECT vec_id, label, e,
         |         CAST(list_sum(list_transform(range(len(e)), i -> e[i+1] * e[i+1])) AS BIGINT) AS nrm
         |  FROM (SELECT vec_id, label,
         |               list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS e
         |        FROM embeddings)
         |)""".stripMargin

  /** Signed hashed bag-of-words replay (graft.text.HashEmbed /
    * HashedBow native expression): per-token md5 bucket + sign,
    * grouped per (doc, bucket) over the full dim grid — bit-equal to
    * the one-pass row-local accumulation. */
  private[queries] val hashEmbCte = {
    val d = PrepParams.HashDim
    raw"""sg AS (
         |  SELECT doc_id, ('0x' || substr(md5(t), 1, 7))::BIGINT % $d AS pos,
         |         CASE WHEN ('0x' || substr(md5(t), 8, 1))::BIGINT % 2 = 1
         |              THEN 1 ELSE -1 END AS s
         |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
         |        FROM documents)),
         |comp AS (
         |  SELECT d.doc_id, g.pos, CAST(coalesce(sum(sg.s), 0) AS BIGINT) AS v
         |  FROM (SELECT DISTINCT doc_id FROM documents) d
         |  CROSS JOIN (SELECT unnest(range($d)) AS pos) g
         |  LEFT JOIN sg ON sg.doc_id = d.doc_id AND sg.pos = g.pos
         |  GROUP BY 1, 2)""".stripMargin
  }

  private[queries] val cosExpr =
    "CAST(CAST(list_sum(list_transform(range(len(a.e)), i -> a.e[i+1] * b.e[i+1])) AS BIGINT) AS DOUBLE)" +
      " / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))"

  /** The LshBits×LshDim quantized hyperplane matrix as a SQL literal —
    * the oracle replays the exact LSH bucketing with integer dot
    * products. Parameters shared with the q_ann_lsh lambda via
    * [[AnnParams]]. */
  private val lshPlanesLit: String =
    Similarity.hyperplanes(AnnParams.LshBits, AnnParams.LshDim)
      .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  private val annLshSql: String =
    raw"""WITH $quantCte,
         |sigs AS (
         |  SELECT vec_id, e, nrm,
         |         array_to_string(list_transform($lshPlanesLit, p ->
         |           CASE WHEN list_sum(list_transform(range(len(e)), i -> e[i+1] * p[i+1])) >= 0
         |                THEN '1' ELSE '0' END), '') AS sig
         |  FROM n
         |),
         |cand AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, $cosExpr AS cos
         |  FROM sigs a JOIN sigs b
         |    ON a.sig = b.sig AND a.vec_id % ${AnnParams.QueryMod} = 0 AND a.vec_id <> b.vec_id
         |)
         |SELECT q_id, neighbor_id, rank, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM cand
         |) WHERE rank <= ${AnnParams.LshK}""".stripMargin

  /** Incremental-update replay: band CTEs over ALL documents (band
    * values are per-doc, independent of the corpus/batch split), then
    * batch docs with no corpus collision. */
  private val incrDedupSql: String = {
    val m = PrepParams.IncrBatchMod
    raw"""WITH $minhashPairCtes,
         |dup AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % $m <> 0 AND b.doc_id % $m = 0
         |)
         |SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id % $m = 0 AND doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin
  }

  private val sortedNeighborsSql: String = {
    val b = PrepParams.SnmWindow - 1
    raw"""WITH k AS (
         |  SELECT doc_id,
         |         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, ${PrepParams.SnmKeyLen}) AS k
         |  FROM documents),
         |r AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) - 1 AS r FROM k),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(b.r - a.r AS BIGINT) AS rank_dist
         |  FROM r a JOIN r b ON b.r - a.r BETWEEN 1 AND $b),
         |s AS (SELECT doc_id, list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS st
         |      FROM documents)
         |SELECT doc_a, doc_b, rank_dist, i, u FROM (
         |  SELECT doc_a, doc_b, rank_dist,
         |         CAST(len(list_intersect(sa.st, sb.st)) AS BIGINT) AS i,
         |         CAST(len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st)) AS BIGINT) AS u
         |  FROM p JOIN s sa ON doc_a = sa.doc_id JOIN s sb ON doc_b = sb.doc_id
         |) WHERE u > 0 AND i * ${PrepParams.SnmTauDen} >= u * ${PrepParams.SnmTauNum}""".stripMargin
  }

  /** Recall-audit replay: the minhash band CTEs (ending in `pairs`)
    * plus the exact-Jaccard pair set (DocFreqCap.Fixed(64) capped,
    * matching the registry default) over the SAME shingle CTE. */
  private val lshRecallSql: String =
    raw"""WITH $minhashPairCtes,
         |g AS (SELECT doc_id, unnest(g) AS g FROM sh),
         |$cappedInterCtes,
         |exact AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
         |hits AS (SELECT doc_a, doc_b FROM exact INTERSECT SELECT doc_a, doc_b FROM pairs)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
         |       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_lsh,
         |       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_both""".stripMargin

  /** Triangle replay: canonical pairs (doc_a < doc_b) make the
    * three-way join's triple (a<b<c) unique per triangle. */
  private val trianglesSql: String =
    raw"""WITH $minhashPairCtes
         |SELECT p1.doc_a AS t1, p1.doc_b AS t2, p2.doc_b AS t3
         |FROM pairs p1
         |JOIN pairs p2 ON p2.doc_a = p1.doc_b
         |JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b""".stripMargin

  /** Update-capstone replay: the incremental dup CTE over the full
    * band table, then merged = corpus ∪ novel, gate, stats. */
  private val updateCapstoneSql: String = {
    val m = PrepParams.IncrBatchMod
    raw"""WITH $minhashPairCtes,
         |dup AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % $m <> 0 AND b.doc_id % $m = 0
         |),
         |merged AS (
         |  SELECT source,
         |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE doc_id % $m <> 0 OR doc_id NOT IN (SELECT doc_id FROM dup)
         |)
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM merged WHERE n_tokens >= 30 GROUP BY source""".stripMargin
  }

  private val warehousePatchSql =
    raw"""WITH base AS (SELECT doc_id, source, text FROM documents),
         |p1_upd AS (
         |  SELECT doc_id, source, text || ' v2' AS text FROM base
         |  WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
         |    AND doc_id % ${PrepParams.DiffRemoveMod} <> 0),
         |p1_ins AS (
         |  SELECT -doc_id - 1 AS doc_id, 'drop' AS source,
         |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
         |  FROM base WHERE doc_id % ${PrepParams.DiffAddMod} = 0),
         |p1keys AS (
         |  SELECT doc_id FROM base WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0
         |  UNION ALL SELECT doc_id FROM p1_upd
         |  UNION ALL SELECT doc_id FROM p1_ins),
         |m1 AS (
         |  SELECT b.doc_id, b.source, b.text
         |  FROM base b LEFT JOIN p1keys k ON b.doc_id = k.doc_id
         |  WHERE k.doc_id IS NULL
         |  UNION ALL SELECT doc_id, source, text FROM p1_upd
         |  UNION ALL SELECT doc_id, source, text FROM p1_ins),
         |p2_upd AS (
         |  SELECT doc_id, source, text || ' v3' AS text FROM base
         |  WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
         |    AND doc_id % ${PrepParams.DiffRemoveMod} <> 0 AND doc_id % 2 = 0),
         |p2_res AS (
         |  SELECT doc_id, 'resurrect' AS source,
         |         'back ' || CAST(doc_id AS VARCHAR) AS text
         |  FROM base WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0 AND doc_id % 3 = 0),
         |p2keys AS (
         |  SELECT doc_id FROM p2_upd
         |  UNION ALL SELECT doc_id FROM p2_res
         |  UNION ALL SELECT -doc_id - 1 AS doc_id FROM base
         |  WHERE doc_id % ${PrepParams.DiffAddMod} = 0 AND doc_id % 5 = 0),
         |m2 AS (
         |  SELECT m1.doc_id, m1.source, m1.text
         |  FROM m1 LEFT JOIN p2keys k ON m1.doc_id = k.doc_id
         |  WHERE k.doc_id IS NULL
         |  UNION ALL SELECT doc_id, source, text FROM p2_upd
         |  UNION ALL SELECT doc_id, source, text FROM p2_res)
         |SELECT doc_id, source, text FROM m2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_update_capstone" -> updateCapstoneSql,
    "q_triangles" -> trianglesSql,
    "q_lsh_recall" -> lshRecallSql,
    "q_incr_dedup" -> incrDedupSql,
    // the full-outer merge replay over the pre-image: survivors are
    // base rows whose key is in NO drop leg; upserts and inserts come
    // back verbatim. Bit-equal to the bucketed merge's assembled read.
    "q_warehouse_merge" ->
      raw"""WITH base AS (SELECT doc_id, source, text FROM documents),
           |upd AS (
           |  SELECT doc_id, source, text || ' v2' AS text FROM base
           |  WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
           |    AND doc_id % ${PrepParams.DiffRemoveMod} <> 0),
           |ins AS (
           |  SELECT -doc_id - 1 AS doc_id,
           |         'drop' AS source,
           |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
           |  FROM base WHERE doc_id % ${PrepParams.DiffAddMod} = 0),
           |dropkeys AS (
           |  SELECT doc_id FROM base WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0
           |  UNION ALL SELECT doc_id FROM upd
           |  UNION ALL SELECT doc_id FROM ins)
           |SELECT b.doc_id, b.source, b.text
           |FROM base b LEFT JOIN dropkeys k ON b.doc_id = k.doc_id
           |WHERE k.doc_id IS NULL
           |UNION ALL SELECT doc_id, source, text FROM upd
           |UNION ALL SELECT doc_id, source, text FROM ins""".stripMargin,
    // the merge-on-read replay: two sequential full-outer merges —
    // layer 2's re-updates/resurrections/insert-deletes shadow
    // layer 1, which shadows the base. Bit-equal to the reconciled
    // read over the pending layers (q_warehouse_patch) AND to the
    // folded rewrite (q_warehouse_patch_fold).
    "q_warehouse_patch" -> warehousePatchSql,
    "q_warehouse_patch_fold" -> warehousePatchSql,
    // the composite-key replay: the full-outer merge joined on BOTH
    // key columns; the insert leg reuses live doc_ids under source
    // 'drop', so a single-column merge would lose or clobber rows
    "q_warehouse_merge2" ->
      raw"""WITH base AS (SELECT source, doc_id, text FROM documents),
           |upd AS (
           |  SELECT source, doc_id, text || ' v2' AS text FROM base
           |  WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
           |    AND doc_id % ${PrepParams.DiffRemoveMod} <> 0),
           |ins AS (
           |  SELECT 'drop' AS source, doc_id,
           |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
           |  FROM base WHERE doc_id % ${PrepParams.DiffAddMod} = 0),
           |dropkeys AS (
           |  SELECT source, doc_id FROM base
           |  WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0
           |  UNION ALL SELECT source, doc_id FROM upd
           |  UNION ALL SELECT source, doc_id FROM ins)
           |SELECT b.source, b.doc_id, b.text
           |FROM base b LEFT JOIN dropkeys k
           |  ON b.source = k.source AND b.doc_id = k.doc_id
           |WHERE k.doc_id IS NULL
           |UNION ALL SELECT source, doc_id, text FROM upd
           |UNION ALL SELECT source, doc_id, text FROM ins""".stripMargin,
    // the rebucket gate reads the SAME merged content through the new
    // layout — the replay is q_warehouse_merge's, column order aside
    "q_warehouse_rebucket" ->
      raw"""WITH base AS (SELECT doc_id, source, text FROM documents),
           |upd AS (
           |  SELECT doc_id, source, text || ' v2' AS text FROM base
           |  WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
           |    AND doc_id % ${PrepParams.DiffRemoveMod} <> 0),
           |ins AS (
           |  SELECT -doc_id - 1 AS doc_id,
           |         'drop' AS source,
           |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
           |  FROM base WHERE doc_id % ${PrepParams.DiffAddMod} = 0),
           |dropkeys AS (
           |  SELECT doc_id FROM base WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0
           |  UNION ALL SELECT doc_id FROM upd
           |  UNION ALL SELECT doc_id FROM ins)
           |SELECT b.doc_id, b.source, b.text
           |FROM base b LEFT JOIN dropkeys k ON b.doc_id = k.doc_id
           |WHERE k.doc_id IS NULL
           |UNION ALL SELECT doc_id, source, text FROM upd
           |UNION ALL SELECT doc_id, source, text FROM ins""".stripMargin,
    // the evolve replay: identical merge legs, with the NEW column
    // null on survivors, 'en' on updates, 'de' on inserts — exactly
    // what null-filled old files + widened new files must read as
    "q_warehouse_evolve" ->
      raw"""WITH base AS (SELECT doc_id, source, text FROM documents),
           |upd AS (
           |  SELECT doc_id, source, text || ' v2' AS text, 'en' AS lang FROM base
           |  WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
           |    AND doc_id % ${PrepParams.DiffRemoveMod} <> 0),
           |ins AS (
           |  SELECT -doc_id - 1 AS doc_id,
           |         'drop' AS source,
           |         'new doc ' || CAST(doc_id AS VARCHAR) AS text,
           |         'de' AS lang
           |  FROM base WHERE doc_id % ${PrepParams.DiffAddMod} = 0),
           |dropkeys AS (
           |  SELECT doc_id FROM base WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0
           |  UNION ALL SELECT doc_id FROM upd
           |  UNION ALL SELECT doc_id FROM ins)
           |SELECT b.doc_id, b.source, b.text, CAST(NULL AS VARCHAR) AS lang
           |FROM base b LEFT JOIN dropkeys k ON b.doc_id = k.doc_id
           |WHERE k.doc_id IS NULL
           |UNION ALL SELECT doc_id, source, text, lang FROM upd
           |UNION ALL SELECT doc_id, source, text, lang FROM ins""".stripMargin,
    // the merge replay's point query: key 3·DiffChangeMod is an
    // update (39 % 17 ≠ 0), so the lookup must read the post-merge row
    "q_warehouse_lookup" ->
      raw"""SELECT doc_id, source, text || ' v2' AS text
           |FROM documents WHERE doc_id = ${3 * PrepParams.DiffChangeMod}""".stripMargin,
    "q_warehouse_lookup_bloom" ->
      raw"""SELECT doc_id, source, text || ' v2' AS text
           |FROM documents WHERE doc_id = ${3 * PrepParams.DiffChangeMod}""".stripMargin,
    // the merge replay restricted to the probed range — the zone-map
    // pruning must be value-invisible
    "q_warehouse_range" ->
      raw"""WITH base AS (SELECT doc_id, source, text FROM documents),
           |upd AS (
           |  SELECT doc_id, source, text || ' v2' AS text FROM base
           |  WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
           |    AND doc_id % ${PrepParams.DiffRemoveMod} <> 0),
           |ins AS (
           |  SELECT -doc_id - 1 AS doc_id,
           |         'drop' AS source,
           |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
           |  FROM base WHERE doc_id % ${PrepParams.DiffAddMod} = 0),
           |dropkeys AS (
           |  SELECT doc_id FROM base WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0
           |  UNION ALL SELECT doc_id FROM upd
           |  UNION ALL SELECT doc_id FROM ins),
           |merged AS (
           |  SELECT b.doc_id, b.source, b.text
           |  FROM base b LEFT JOIN dropkeys k ON b.doc_id = k.doc_id
           |  WHERE k.doc_id IS NULL
           |  UNION ALL SELECT doc_id, source, text FROM upd
           |  UNION ALL SELECT doc_id, source, text FROM ins)
           |SELECT doc_id, source, text FROM merged
           |WHERE doc_id BETWEEN 100 AND 299""".stripMargin,
    // the merge replay restricted to a STRING range — string zone
    // pruning must be value-invisible under binary collation
    "q_warehouse_range_str" ->
      raw"""WITH base AS (SELECT doc_id, source, text FROM documents),
           |upd AS (
           |  SELECT doc_id, source, text || ' v2' AS text FROM base
           |  WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
           |    AND doc_id % ${PrepParams.DiffRemoveMod} <> 0),
           |ins AS (
           |  SELECT -doc_id - 1 AS doc_id,
           |         'drop' AS source,
           |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
           |  FROM base WHERE doc_id % ${PrepParams.DiffAddMod} = 0),
           |dropkeys AS (
           |  SELECT doc_id FROM base WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0
           |  UNION ALL SELECT doc_id FROM upd
           |  UNION ALL SELECT doc_id FROM ins),
           |merged AS (
           |  SELECT b.doc_id, b.source, b.text
           |  FROM base b LEFT JOIN dropkeys k ON b.doc_id = k.doc_id
           |  WHERE k.doc_id IS NULL
           |  UNION ALL SELECT doc_id, source, text FROM upd
           |  UNION ALL SELECT doc_id, source, text FROM ins)
           |SELECT doc_id, source, text FROM merged
           |WHERE source BETWEEN 'src10' AND 'src15'""".stripMargin,
    // lifecycle statuses derived from the drop's construction: the
    // warehouse's v1→v2 diff must read exactly the drop back
    "q_warehouse_diff" ->
      raw"""WITH base AS (SELECT doc_id, text FROM documents),
           |upd AS (SELECT doc_id FROM base
           |        WHERE doc_id % ${PrepParams.DiffChangeMod} = 0
           |          AND doc_id % ${PrepParams.DiffRemoveMod} <> 0),
           |ins AS (SELECT -doc_id - 1 AS doc_id FROM base
           |        WHERE doc_id % ${PrepParams.DiffAddMod} = 0),
           |del AS (SELECT doc_id FROM base WHERE doc_id % ${PrepParams.DiffRemoveMod} = 0)
           |SELECT doc_id, 'removed' AS status FROM del
           |UNION ALL SELECT doc_id, 'changed' AS status FROM upd
           |UNION ALL SELECT doc_id, 'added' AS status FROM ins
           |UNION ALL
           |SELECT b.doc_id, 'unchanged' AS status FROM base b
           |LEFT JOIN (SELECT doc_id FROM upd UNION ALL SELECT doc_id FROM del) k
           |  ON b.doc_id = k.doc_id
           |WHERE k.doc_id IS NULL""".stripMargin,
    "q_corpus_diff" ->
      raw"""WITH prev AS (SELECT doc_id, text FROM documents),
           |curr AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % ${PrepParams.DiffChangeMod} = 0
           |              THEN text || ' v2' ELSE text END AS text
           |  FROM documents WHERE doc_id % ${PrepParams.DiffRemoveMod} <> 0
           |  UNION ALL
           |  SELECT doc_id + ${PrepParams.DiffAddOffset} AS doc_id,
           |         'new doc ' || CAST(doc_id AS VARCHAR) AS text
           |  FROM documents WHERE doc_id % ${PrepParams.DiffAddMod} = 0)
           |SELECT COALESCE(curr.doc_id, prev.doc_id) AS doc_id,
           |       CASE WHEN prev.doc_id IS NULL THEN 'added'
           |            WHEN curr.doc_id IS NULL THEN 'removed'
           |            WHEN prev.text IS DISTINCT FROM curr.text THEN 'changed'
           |            ELSE 'unchanged' END AS status
           |FROM prev FULL OUTER JOIN curr ON prev.doc_id = curr.doc_id""".stripMargin,
    // full replay of the sentence segmentation (terminal-closed runs,
    // SentMaxTokens subdivision), 3-sentence lead spans, 60-bit md5
    // fingerprints and the ≥2-occurrence gate
    "q_sentence_dedup" -> {
      val s = PrepParams.SentMaxTokens
      raw"""WITH tok AS (
           |  SELECT doc_id, unnest(range(len(toks))) AS tp, unnest(toks) AS tok
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
           |),
           |seg AS (
           |  SELECT doc_id, tp, tok,
           |         coalesce(sum(CASE WHEN regexp_matches(tok, '[.!?]$$') THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY doc_id ORDER BY tp
           |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s1
           |  FROM tok
           |),
           |seg2 AS (
           |  SELECT doc_id, tp, tok, s1,
           |         (tp - min(tp) OVER (PARTITION BY doc_id, s1)) // $s AS sub
           |  FROM seg
           |),
           |sent AS (
           |  SELECT doc_id, s1, sub, string_agg(tok, ' ' ORDER BY tp) AS stext,
           |         min(tp) AS s_start, max(tp) AS s_end
           |  FROM seg2 GROUP BY 1, 2, 3
           |),
           |sidx AS (
           |  SELECT doc_id, stext, s_start, s_end,
           |         row_number() OVER (PARTITION BY doc_id ORDER BY s1, sub) - 1 AS si
           |  FROM sent
           |),
           |sp AS (
           |  SELECT doc_id, si, s_start,
           |         lead(s_end, 2) OVER (PARTITION BY doc_id ORDER BY si) AS span_end,
           |         stext || ' ' || lead(stext, 1) OVER (PARTITION BY doc_id ORDER BY si)
           |               || ' ' || lead(stext, 2) OVER (PARTITION BY doc_id ORDER BY si) AS sptext
           |  FROM sidx
           |),
           |h AS (
           |  SELECT doc_id, si AS sent_idx, s_start AS span_start, span_end,
           |         ('0x' || substr(md5(sptext), 1, 15))::BIGINT AS hh
           |  FROM sp WHERE span_end IS NOT NULL
           |),
           |d AS (SELECT hh, count(*) AS n_occ FROM h GROUP BY 1 HAVING count(*) >= 2)
           |SELECT h.doc_id, h.sent_idx, h.span_start, h.span_end, d.n_occ
           |FROM h JOIN d USING (hh)""".stripMargin
    },

    "q_substring_spans" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
           |),
           |w0 AS (
           |  SELECT doc_id, unnest(range(len(t) - ${PrepParams.SubstrWindow} + 1)) AS p, t FROM toks
           |),
           |wins AS (
           |  SELECT doc_id, p,
           |         md5(array_to_string(t[p+1:p+${PrepParams.SubstrWindow}], ' ')) AS h
           |  FROM w0
           |),
           |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= ${PrepParams.SubstrMinCount}),
           |cov AS (SELECT doc_id, p FROM wins JOIN dup USING (h)),
           |m AS (
           |  SELECT doc_id, p,
           |         CASE WHEN p <= coalesce(max(p) OVER (PARTITION BY doc_id ORDER BY p
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000000)
           |                + ${PrepParams.SubstrWindow} THEN 0 ELSE 1 END AS brk
           |  FROM cov
           |),
           |g AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid FROM m)
           |SELECT doc_id, min(p) AS span_start,
           |       max(p) + ${PrepParams.SubstrWindow} - 1 AS span_end,
           |       CAST(count(*) AS BIGINT) AS n_windows
           |FROM g GROUP BY doc_id, gid""".stripMargin,
    "q_substring_scrub" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
           |),
           |w0 AS (
           |  SELECT doc_id, unnest(range(len(t) - ${PrepParams.SubstrWindow} + 1)) AS p, t FROM toks
           |),
           |wins AS (
           |  SELECT doc_id, p,
           |         md5(array_to_string(t[p+1:p+${PrepParams.SubstrWindow}], ' ')) AS h
           |  FROM w0
           |),
           |ranked AS (
           |  SELECT doc_id, p,
           |         count(*) OVER (PARTITION BY h) AS c,
           |         row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
           |  FROM wins
           |),
           |covered AS (
           |  SELECT DISTINCT doc_id, unnest(range(p, p + ${PrepParams.SubstrWindow})) AS tp
           |  FROM ranked WHERE c >= ${PrepParams.SubstrMinCount} AND rn >= 2
           |),
           |tok_pos AS (SELECT doc_id, unnest(range(len(t))) AS tp, t FROM toks),
           |kept AS (
           |  SELECT tok_pos.doc_id, tp, t[tp+1] AS tok
           |  FROM tok_pos LEFT JOIN covered USING (doc_id, tp)
           |  WHERE covered.tp IS NULL
           |)
           |SELECT doc_id, array_to_string(list(tok ORDER BY tp), ' ') AS clean_text,
           |       CAST(count(*) AS BIGINT) AS n_kept
           |FROM kept GROUP BY doc_id""".stripMargin,
    "q_sorted_neighbors" -> sortedNeighborsSql,
    "q_ann_lsh" -> annLshSql,
    "q_source_overlap" ->
      raw"""WITH fp AS (
           |  SELECT DISTINCT source,
           |         md5(array_to_string(string_split_regex(trim(lower(text)), '\s+')[1:${PrepParams.OpeningTokens}], ' ')) AS fp
           |  FROM documents)
           |SELECT a.source AS source_a, b.source AS source_b,
           |       CAST(count(*) AS BIGINT) AS shared_openings
           |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
           |GROUP BY 1, 2""".stripMargin,
    "q_decontam" ->
      raw"""WITH $shinglesCte,
           |cg AS (SELECT doc_id, unnest(g) AS g FROM sh WHERE doc_id % ${PrepParams.BenchMod} <> 0),
           |bg AS (SELECT doc_id AS bench_id, unnest(g) AS g FROM sh WHERE doc_id % ${PrepParams.BenchMod} = 0)
           |SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_hits
           |FROM cg JOIN bg USING (g)
           |GROUP BY doc_id, bench_id
           |HAVING count(*) >= ${PrepParams.DecontamMinHits}""".stripMargin,
    "q_decontam_sem" ->
      raw"""WITH $shinglesCte,
           |cg AS (SELECT doc_id, unnest(g) AS g FROM sh WHERE doc_id % ${PrepParams.BenchMod} <> 0),
           |bg AS (SELECT doc_id AS bench_id, unnest(g) AS g FROM sh WHERE doc_id % ${PrepParams.BenchMod} = 0),
           |ng AS (
           |  SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_hits
           |  FROM cg JOIN bg USING (g)
           |  GROUP BY doc_id, bench_id
           |  HAVING count(*) >= ${PrepParams.DecontamMinHits}),
           |$hashEmbCte,
           |n AS (
           |  SELECT doc_id AS vec_id, list(v ORDER BY pos) AS e,
           |         CAST(sum(v * v) AS BIGINT) AS nrm
           |  FROM comp GROUP BY 1),
           |sem AS (
           |  SELECT doc_id, bench_id, cos FROM (
           |    SELECT a.vec_id AS doc_id, b.vec_id AS bench_id, $cosExpr AS cos
           |    FROM n a JOIN n b
           |      ON a.vec_id % ${PrepParams.BenchMod} <> 0 AND b.vec_id % ${PrepParams.BenchMod} = 0
           |    WHERE a.nrm > 0 AND b.nrm > 0
           |  ) WHERE cos >= ${PrepParams.SemDecontamTau})
           |SELECT coalesce(ng.doc_id, sem.doc_id) AS doc_id,
           |       coalesce(ng.bench_id, sem.bench_id) AS bench_id,
           |       ng.n_hits, sem.cos,
           |       CASE WHEN ng.doc_id IS NOT NULL AND sem.doc_id IS NOT NULL THEN 'both'
           |            WHEN ng.doc_id IS NOT NULL THEN 'ngram_only'
           |            ELSE 'semantic_only' END AS verdict
           |FROM ng FULL OUTER JOIN sem
           |  ON ng.doc_id = sem.doc_id AND ng.bench_id = sem.bench_id""".stripMargin,
    "q_stop_grams" ->
      raw"""WITH $shinglesCte,
           |g AS (SELECT doc_id, unnest(g) AS g FROM sh),
           |f AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY g HAVING count(*) >= 2)
           |SELECT g, df, (df * (df - 1)) // 2 AS pair_cost, CAST(4 AS BIGINT) AS cap
           |FROM f WHERE df > 4""".stripMargin,
    "q_rouge_overlap" -> {
      val (n, bm, mh) = (PrepParams.DecontamN, PrepParams.BenchMod, PrepParams.DecontamMinHits)
      raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
           |mg AS (
           |  SELECT doc_id, array_to_string(t[p+1:p+$n], ' ') AS g
           |  FROM (SELECT doc_id, unnest(range(greatest(len(t) - $n + 1, 0))) AS p, t FROM toks)),
           |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntot FROM mg GROUP BY doc_id),
           |cgd AS (SELECT DISTINCT doc_id, g FROM mg WHERE doc_id % $bm <> 0),
           |bgd AS (SELECT DISTINCT doc_id AS bench_id, g FROM mg WHERE doc_id % $bm = 0),
           |fl AS (SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_hits
           |       FROM cgd JOIN bgd USING (g) GROUP BY 1, 2 HAVING count(*) >= $mh),
           |ccnt AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS ca
           |         FROM mg WHERE doc_id % $bm <> 0 GROUP BY 1, 2),
           |bcnt AS (SELECT doc_id AS bench_id, g, CAST(count(*) AS BIGINT) AS cb
           |         FROM mg WHERE doc_id % $bm = 0 GROUP BY 1, 2),
           |inter AS (
           |  SELECT fl.doc_id, fl.bench_id, fl.n_hits,
           |         CAST(sum(least(ca, cb)) AS BIGINT) AS shared_grams
           |  FROM fl JOIN ccnt ON fl.doc_id = ccnt.doc_id
           |          JOIN bcnt ON fl.bench_id = bcnt.bench_id AND ccnt.g = bcnt.g
           |  GROUP BY 1, 2, 3)
           |SELECT i.doc_id, i.bench_id, i.n_hits, i.shared_grams,
           |       (1000 * i.shared_grams) // greatest(ta.ntot, 1) AS precision_pm,
           |       (1000 * i.shared_grams) // greatest(tb.ntot, 1) AS recall_pm
           |FROM inter i
           |JOIN tot ta ON i.doc_id = ta.doc_id
           |JOIN tot tb ON i.bench_id = tb.doc_id""".stripMargin
    },
    // the capped form: identical pipeline with the flagged relation
    // windowed to the top-k per doc (hits desc, bench_id tie-break)
    // BEFORE gram counting
    "q_rouge_capped" -> {
      val (n, bm, mh) = (PrepParams.DecontamN, PrepParams.BenchMod, PrepParams.RougeCapMinHits)
      val k = PrepParams.RougeMaxPairsPerDoc
      raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
           |mg AS (
           |  SELECT doc_id, array_to_string(t[p+1:p+$n], ' ') AS g
           |  FROM (SELECT doc_id, unnest(range(greatest(len(t) - $n + 1, 0))) AS p, t FROM toks)),
           |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntot FROM mg GROUP BY doc_id),
           |cgd AS (SELECT DISTINCT doc_id, g FROM mg WHERE doc_id % $bm <> 0),
           |bgd AS (SELECT DISTINCT doc_id AS bench_id, g FROM mg WHERE doc_id % $bm = 0),
           |fl AS (SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_hits
           |       FROM cgd JOIN bgd USING (g) GROUP BY 1, 2 HAVING count(*) >= $mh),
           |flc AS (SELECT doc_id, bench_id, n_hits FROM (
           |  SELECT doc_id, bench_id, n_hits,
           |         row_number() OVER (PARTITION BY doc_id
           |                            ORDER BY n_hits DESC, bench_id ASC) AS r
           |  FROM fl) WHERE r <= $k),
           |ccnt AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS ca
           |         FROM mg WHERE doc_id % $bm <> 0 GROUP BY 1, 2),
           |bcnt AS (SELECT doc_id AS bench_id, g, CAST(count(*) AS BIGINT) AS cb
           |         FROM mg WHERE doc_id % $bm = 0 GROUP BY 1, 2),
           |inter AS (
           |  SELECT flc.doc_id, flc.bench_id, flc.n_hits,
           |         CAST(sum(least(ca, cb)) AS BIGINT) AS shared_grams
           |  FROM flc JOIN ccnt ON flc.doc_id = ccnt.doc_id
           |           JOIN bcnt ON flc.bench_id = bcnt.bench_id AND ccnt.g = bcnt.g
           |  GROUP BY 1, 2, 3)
           |SELECT i.doc_id, i.bench_id, i.n_hits, i.shared_grams,
           |       (1000 * i.shared_grams) // greatest(ta.ntot, 1) AS precision_pm,
           |       (1000 * i.shared_grams) // greatest(tb.ntot, 1) AS recall_pm
           |FROM inter i
           |JOIN tot ta ON i.doc_id = ta.doc_id
           |JOIN tot tb ON i.bench_id = tb.doc_id""".stripMargin
    },
    // the cap's transparency read: flagged/graded/skipped per doc the
    // cap bound on
    "q_rouge_cap_audit" -> {
      val (n, bm, mh) = (PrepParams.DecontamN, PrepParams.BenchMod, PrepParams.RougeCapMinHits)
      val k = PrepParams.RougeMaxPairsPerDoc
      raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
           |mg AS (
           |  SELECT doc_id, array_to_string(t[p+1:p+$n], ' ') AS g
           |  FROM (SELECT doc_id, unnest(range(greatest(len(t) - $n + 1, 0))) AS p, t FROM toks)),
           |cgd AS (SELECT DISTINCT doc_id, g FROM mg WHERE doc_id % $bm <> 0),
           |bgd AS (SELECT DISTINCT doc_id AS bench_id, g FROM mg WHERE doc_id % $bm = 0),
           |fl AS (SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_hits
           |       FROM cgd JOIN bgd USING (g) GROUP BY 1, 2 HAVING count(*) >= $mh)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged,
           |       CAST($k AS BIGINT) AS n_graded,
           |       CAST(count(*) - $k AS BIGINT) AS n_skipped
           |FROM fl GROUP BY doc_id HAVING count(*) > $k""".stripMargin
    },
    "q_dedup_exact" ->
      """WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents)
        |SELECT min(doc_id) AS doc_id, fp, count(*) AS group_n FROM f GROUP BY fp""".stripMargin,
    "q_dedup_minhash" -> minhashSql,
    "q_keep_best" -> keepBestSql,
    "q_dedup_cluster" -> clusterSql,
    // the incremental ledger must land on the full-graph fixpoint —
    // same closure, same node set (every id any drop mentioned)
    "q_cluster_incr" -> clusterSql,
    "q_cc_sizes" ->
      s"""WITH t AS ($clusterSql)
         |SELECT size, n_clusters, size * n_clusters AS n_docs,
         |       (1000 * size * n_clusters) //
         |         greatest(CAST(sum(size * n_clusters) OVER () AS BIGINT), 1) AS share_pm
         |FROM (
         |  SELECT size, CAST(count(*) AS BIGINT) AS n_clusters FROM (
         |    SELECT cluster_id, CAST(count(*) AS BIGINT) AS size FROM t GROUP BY cluster_id
         |  ) GROUP BY size
         |)""".stripMargin,
    "q_cluster_star" -> clusterSql,
    "q_corpus" -> corpusSql,
    // the facade chain is definitionally the same composition — one
    // oracle, two construction paths, both hash-gated
    "q_corpus_facade" -> corpusSql,
    "q_drop_ledger" -> dropLedgerSql,
    "q_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS e
        |  FROM embeddings),
        |s AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM q),
        |c AS (
        |  SELECT vec_id, mn, mx, e,
        |         CASE WHEN mx = mn THEN list_transform(e, v -> CAST(0 AS BIGINT))
        |              ELSE list_transform(e, v -> ((v - mn) * 510 + (mx - mn)) // ((mx - mn) * 2))
        |         END AS codes
        |  FROM s)
        |SELECT vec_id, mn, mx,
        |       CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |       CAST(list_sum(list_transform(range(len(e)), i ->
        |         abs(mn + (codes[i+1] * (mx - mn) * 2 + 255) // 510 - e[i+1]))) AS BIGINT) AS err_total
        |FROM c""".stripMargin,
    "q_fuzzy_join" ->
      raw"""WITH $shinglesCte,
           |g0 AS (SELECT DISTINCT doc_id, unnest(g) AS g FROM sh),
           |keep AS (SELECT g FROM g0 GROUP BY g HAVING count(*) BETWEEN 2 AND 50),
           |gk AS (SELECT g0.doc_id, g0.g FROM g0 JOIN keep USING (g)),
           |cand AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM gk a JOIN gk b ON a.g = b.g AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3
           |)
           |SELECT doc_a, doc_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
           |FROM cand
           |JOIN documents da ON doc_a = da.doc_id
           |JOIN documents db ON doc_b = db.doc_id
           |WHERE abs(length(da.text) - length(db.text)) <= 6
           |  AND levenshtein(da.text, db.text) <= 6""".stripMargin,
    "q_dedup_ngram" -> ngramSql,
    "q_containment" -> containmentSql,
    "q_dedup_simhash" -> simhashSql,
    "q_dedup_embedding" ->
      raw"""WITH $quantCte
           |SELECT vec_a, vec_b, cos FROM (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $cosExpr AS cos
           |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
           |) WHERE cos >= 0.4""".stripMargin,
    "q_hash_embed" ->
      s"""WITH $hashEmbCte
         |SELECT doc_id, pos, v FROM comp""".stripMargin,

    "q_text_knn" ->
      raw"""WITH $hashEmbCte,
           |n AS (
           |  SELECT doc_id AS vec_id, list(v ORDER BY pos) AS e,
           |         CAST(sum(v * v) AS BIGINT) AS nrm
           |  FROM comp GROUP BY 1),
           |p AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, $cosExpr AS cos
           |  FROM n a JOIN n b ON a.vec_id % ${PrepParams.TextKnnMod} = 0 AND a.vec_id <> b.vec_id
           |)
           |SELECT q_id, neighbor_id, rank, cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
           |  FROM p
           |) WHERE rank <= ${PrepParams.TextKnnK}""".stripMargin,

    "q_cosine_topk" ->
      raw"""WITH $quantCte,
           |p AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, $cosExpr AS cos
           |  FROM n a JOIN n b ON a.vec_id % ${AnnParams.QueryMod} = 0 AND a.vec_id <> b.vec_id
           |)
           |SELECT q_id, neighbor_id, rank, cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
           |  FROM p
           |) WHERE rank <= ${AnnParams.CosineK}""".stripMargin,

    "q_mutual_knn" ->
      raw"""WITH $quantCte,
           |p AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS nid, $cosExpr AS cos
           |  FROM n a JOIN n b
           |    ON a.vec_id % ${AnnParams.MutualMod} = 0
           |   AND b.vec_id % ${AnnParams.MutualMod} = 0
           |   AND a.vec_id <> b.vec_id
           |),
           |knn AS (
           |  SELECT q_id, nid, cos, rnk FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id
           |                                 ORDER BY cos DESC, nid ASC) AS rnk
           |    FROM p
           |  ) WHERE rnk <= ${AnnParams.MutualK}
           |)
           |SELECT a.q_id AS id_a, a.nid AS id_b,
           |       CAST(a.rnk AS BIGINT) AS rank_ab,
           |       CAST(b.rnk AS BIGINT) AS rank_ba, a.cos
           |FROM knn a JOIN knn b ON a.q_id = b.nid AND a.nid = b.q_id
           |WHERE a.q_id < a.nid""".stripMargin,

    "q_knn_classify" ->
      raw"""WITH $quantCte,
           |p AS (
           |  SELECT a.vec_id AS q_id, a.label AS true_label, b.label AS cand_label,
           |         b.vec_id AS nid, $cosExpr AS cos
           |  FROM n a JOIN n b ON a.vec_id % ${AnnParams.KnnMod} = 0 AND a.vec_id <> b.vec_id
           |),
           |top AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nid ASC) AS rnk
           |    FROM p
           |  ) WHERE rnk <= ${AnnParams.KnnK}
           |),
           |v AS (
           |  SELECT q_id, true_label, cand_label, count(*) AS votes
           |  FROM top GROUP BY 1, 2, 3
           |)
           |SELECT q_id, true_label, pred_label, votes, correct FROM (
           |  SELECT q_id, true_label, cand_label AS pred_label, votes,
           |         CAST(true_label = cand_label AS INT) AS correct,
           |         row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, cand_label ASC) AS vr
           |  FROM v
           |) WHERE vr = 1""".stripMargin,

    "q_hard_negatives" ->
      raw"""WITH $quantCte,
           |p AS (
           |  SELECT a.vec_id AS q_id, a.label AS true_label, b.vec_id AS nid,
           |         b.label AS nlabel,
           |         CASE WHEN a.label = b.label THEN 0 ELSE 1 END AS is_neg,
           |         $cosExpr AS cos
           |  FROM n a JOIN n b ON a.vec_id % ${AnnParams.TripletMod} = 0 AND a.vec_id <> b.vec_id
           |),
           |top AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id, is_neg
           |                                 ORDER BY cos DESC, nid ASC) AS rnk
           |    FROM p
           |  ) WHERE rnk <= ${AnnParams.TripletNegK}
           |),
           |pos AS (SELECT q_id, nid AS pos_id, cos AS pos_cos
           |        FROM top WHERE is_neg = 0 AND rnk = 1),
           |neg AS (SELECT q_id, true_label, nid AS neg_id, nlabel AS neg_label,
           |               CAST(rnk AS INTEGER) AS rank, cos AS neg_cos
           |        FROM top WHERE is_neg = 1)
           |SELECT neg.q_id, neg.true_label, pos.pos_id, pos.pos_cos, neg.neg_id,
           |       neg.neg_label, neg.rank, neg.neg_cos,
           |       CAST(neg.neg_cos > pos.pos_cos AS INTEGER) AS violation
           |FROM neg LEFT JOIN pos USING (q_id)""".stripMargin,

    // Leave-one-out nearest-centroid: cos(q, S_l − e_q·[l = l₀]) —
    // scale-invariance of cosine makes the self-excluded mean exact
    // with integer sums only (no /(n−1) anywhere).
    "q_centroid_classify" -> centroidClassifySql,

    "q_label_confusion" ->
      s"""SELECT true_label, pred_label, count(*) AS n
         |FROM ($centroidClassifySql)
         |GROUP BY 1, 2""".stripMargin,

    "q_centroid_eval" ->
      EvalSql.over(centroidClassifySql, "true_label", "pred_label")
  )

  private lazy val centroidClassifySql: String =
      raw"""WITH $quantCte,
           |d AS (
           |  SELECT label, i, CAST(sum(e[i+1]) AS BIGINT) AS s
           |  FROM n, (SELECT unnest(range(64)) AS i) t GROUP BY label, i
           |),
           |c AS (SELECT label AS clab, list(s ORDER BY i) AS cs FROM d GROUP BY label),
           |cc AS (
           |  SELECT clab, cs,
           |         CAST(list_sum(list_transform(range(len(cs)), j -> cs[j+1] * cs[j+1])) AS BIGINT) AS ss
           |  FROM c
           |),
           |sc AS (
           |  SELECT a.vec_id AS q_id, a.label AS true_label, cc.clab AS lab, cc.ss, a.nrm,
           |         CAST(list_sum(list_transform(range(len(a.e)), j -> a.e[j+1] * cc.cs[j+1])) AS BIGINT) AS dsq
           |  FROM n a CROSS JOIN cc
           |),
           |s2 AS (
           |  SELECT q_id, true_label, lab,
           |         CAST(dsq - CASE WHEN true_label = lab THEN nrm ELSE 0 END AS DOUBLE)
           |         / (sqrt(CAST(ss - CASE WHEN true_label = lab THEN 2 * dsq - nrm ELSE 0 END AS DOUBLE))
           |            * sqrt(CAST(nrm AS DOUBLE))) AS cos
           |  FROM sc
           |  -- degenerate-centroid guard (mirrors the Spark fold floor): a
           |  -- singleton label's leave-one-out centroid (ss − selfDen = 0)
           |  -- is excluded; vectors with NO scorable centroid fall back to
           |  -- (pred −1, cos −2.0) via the LEFT JOIN below
           |  WHERE ss - CASE WHEN true_label = lab THEN 2 * dsq - nrm ELSE 0 END > 0
           |),
           |best AS (
           |  SELECT q_id, lab AS pred_label, cos AS best_cos FROM (
           |    SELECT q_id, lab, cos,
           |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, lab ASC) AS r
           |    FROM s2
           |  ) WHERE r = 1
           |)
           |SELECT n.vec_id AS q_id, n.label AS true_label,
           |       COALESCE(b.pred_label, -1) AS pred_label,
           |       COALESCE(b.best_cos, CAST(-2.0 AS DOUBLE)) AS best_cos,
           |       CAST(n.label = COALESCE(b.pred_label, -1) AS INT) AS correct
           |FROM n LEFT JOIN best b ON n.vec_id = b.q_id""".stripMargin
}
