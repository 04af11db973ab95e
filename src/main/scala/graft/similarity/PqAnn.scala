package graft.similarity

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Similarity.{cosineQ, dotQ}

/** IVF-PQ approximate nearest neighbour (SURVEY.md §2.4/29c2): the
  * memory-side completion of the ANN stack — IVF coarse cells
  * ([[IvfAnn]]) select WHICH vectors to score, product-quantization
  * codes decide HOW CHEAPLY. Each vector is stored as `m` small
  * codeword ids (4 ints here vs 64 longs raw — the 32-64× squeeze
  * billion-vector deployments run), scored by asymmetric distance
  * computation (ADC): a query precomputes one lookup table of
  * subspace partial dots, so a candidate costs m array lookups, not a
  * full-dimension dot product; an exact re-rank of the ADC shortlist
  * restores precision where it matters (the FAISS IVFPQ + refine
  * pipeline).
  *
  * Everything stays on the 1e-6 integer grid: codebook training is
  * integer L2 (argmin cnrm − 2·dot — no doubles, no sqrt), floor-mean
  * rebuilds match [[IvfAnn]], ADC numerators/norms are integer sums
  * with one final double division — bit-identical in any engine, so
  * the whole build (per-subspace Lloyd, encoding, ADC, re-rank) is
  * replayed by a generated DuckDB CTE chain in the oracle.
  *
  * Scale shape: the corpus is never shuffled — codebooks are tiny
  * (m·k rows) and ride one collected broadcast row; encoding and ADC
  * are per-row folds; only the (q_id-keyed) candidate ranking
  * exchanges rows, and those rows carry codes, not vectors. */
object PqAnn {

  /** Per-subspace codebooks: `m` independent Lloyd runs over the
    * sub-vectors, `k` codewords each, seeded by the sub-vectors of
    * the `k` smallest vec_ids and refined `iters` rounds with integer
    * L2 assignment (ties to the smaller codeword) and floor-mean
    * rebuild. Returns (s, dcid, ce, cnrm) with dcid densely
    * re-numbered 0..k'-1 per subspace AFTER training (cells can empty
    * out), so ADC lookup tables index by position.
    *
    * All `m` runs train in ONE tagged frame — the (s, vec_id, se)
    * union of every subspace's sub-vectors — so an iteration is one
    * GroupTopK assignment + one mean aggregate regardless of m, not
    * m sequential loops (r9: the per-subspace fold launched ~2·m·iters
    * driver jobs and pinned m·iters checkpoints; the tagged form cut
    * q_ann_ivfpq from 12.8 s to a few at sf0.1 while producing
    * byte-identical codebooks — the subspaces never interact: every
    * key starts with s). Each round's tiny (m·k-row) codebook is
    * checkpointed to cut the assignment lineage — the
    * [[IvfAnn.centroids]] pattern. */
  def codebooks(corpus: DataFrame, m: Int, subDim: Int, k: Int, iters: Int): DataFrame = {
    require(m >= 1 && subDim >= 1 && k >= 1 && iters >= 1)
    // one row per (subspace, vector): posexplode tags the slice index
    def subs = corpus.select(col("vec_id"),
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), si -> slice(e, si * $subDim + 1, $subDim))"))
        .as(Seq("s", "se")))
    val seedW = Window.partitionBy("s").orderBy("vec_id")
    val seeds = subs.withColumn("__rn", row_number().over(seedW)).filter(col("__rn") <= k)
      .select(col("s"), (col("__rn") - 1).cast("int").as("cid"), col("se").as("ce"))
      .withColumn("cnrm", dotQ(col("ce"), col("ce")))
    var lastCk: DataFrame = null
    val trained = (1 to iters).foldLeft(seeds) {
      (cents, i) =>
        // sub-vector carried THROUGH the top-1 ([[IvfAnn.centroids]]'s
        // rebuild discipline): the round previously re-joined the
        // assignment against a fresh subs explode — a sort-merge join
        // plus a second posexplode pass per round
        val assigned = assignSub(subs, cents)
        val meanPerDim = assigned
          .select(col("s"), col("cid"), posexplode(col("se")).as(Seq("j", "x")))
          .groupBy("s", "cid", "j")
          // floor-mean: the one integral mean Spark and DuckDB agree on
          .agg(floor(sum(col("x")).cast("double") / count(lit(1))).as("mu"))
        val rebuilt = meanPerDim
          .groupBy("s", "cid")
          .agg(transform(sort_array(collect_list(struct(col("j"), col("mu")))),
            p => p.getField("mu")).as("ce"))
          .withColumn("cnrm", dotQ(col("ce"), col("ce")))
        // lineage cut every 4th round (the IvfAnn.centroids / Bpe
        // cadence) — a per-round eager checkpoint was a
        // driver-synchronous job per round, the bulk of this
        // job-floor-bound build's cost at the 2-iteration gate. A
        // superseded checkpoint is released only once the NEXT one is
        // materialized (a lazy round still reads the last checkpoint's
        // blocks — releasing it per round broke at iters > 4).
        if (i < iters && i % 4 == 0) {
          val next = graft.operators.Checkpoints.eager(rebuilt)
          if (lastCk != null) graft.operators.Checkpoints.release(lastCk)
          lastCk = next
          next
        } else rebuilt
    }
    // the dense renumbering is checkpointed WITH the final round (one
    // eager, same job count as checkpointing the round itself) so
    // every consumer — encode, the ADC/SDC table builds, the persisted
    // index write — reads a plain scan instead of re-deriving the
    // ≤ m·k-row window and paying its hashpartitioning(s) exchange per
    // consumer (guide §2.4; the round-16 plan audit caught the window
    // re-derivation as +2 exchanges in q_semdedup_pq)
    val denseW = Window.partitionBy("s").orderBy("cid") // ≤ m·k rows
    val dense = graft.operators.Checkpoints.eager(
      trained.select(col("s"),
        (row_number().over(denseW) - 1).cast("int").as("dcid"), col("ce"), col("cnrm")))
    if (lastCk != null) graft.operators.Checkpoints.release(lastCk)
    dense
  }

  /** Integer-L2 sub-vector assignment for EVERY subspace at once:
    * argmin (cnrm − 2·dot) per (s, vec_id), ties to the smaller cid,
    * via the GroupTopK partial-reduce operator (one row per
    * (s, vector) leaves each partition before the exchange). The
    * broadcast join on s keeps each sub-vector scoring only its own
    * subspace's codewords. */
  private def assignSub(subs: DataFrame, cents: DataFrame): DataFrame = {
    val scored = subs
      .join(broadcast(cents), Seq("s"))
      .withColumn("__d", col("cnrm") - lit(2L) * dotQ(col("se"), col("ce")))
      // project before the GroupTopK heap/exchange (custom operator —
      // no Catalyst pruning through it): keep the sub-vector, drop the
      // codeword vector and norms
      .select(col("s"), col("vec_id"), col("se"), col("cid"), col("__d"))
    org.apache.spark.sql.graft.GraftPlans
      .groupTopK(scored, Seq(col("s"), col("vec_id")), Seq(col("__d").asc, col("cid").asc), 1)
      .select(col("s"), col("vec_id"), col("se"), col("cid"))
  }

  /** One broadcastable row holding the codebook in POSITIONAL form —
    * `cbs3[s][dcid] = ce` (the codeword vectors) and `cn2[s][dcid] =
    * cnrm` (their norms) — the shape the native [[PqEncode]]/[[PqLut]]
    * expressions index directly (m·k·subDim longs; KB-sized at any
    * corpus scale: the tables depend on the CODEBOOK, not the
    * corpus). */
  private def cbs3Row(cbs: DataFrame): DataFrame =
    // ONE global aggregate (m·k rows → 1), then pure HOF reshaping on
    // that single row — a groupBy(s) pre-stage would add a second
    // codebook-sized exchange to every caller's plan for nothing
    cbs.agg(expr(
      "array_sort(collect_list(named_struct('s', s, 'dcid', dcid, 'ce', ce, 'cnrm', cnrm)))")
      .as("__all"))
      .select(
        expr("transform(sequence(0, array_max(transform(__all, x -> x.s))), si -> " +
          "transform(filter(__all, x -> x.s = si), x -> x.ce))").as("cbs3"),
        expr("transform(sequence(0, array_max(transform(__all, x -> x.s))), si -> " +
          "transform(filter(__all, x -> x.s = si), x -> x.cnrm))").as("cn2"))

  /** One broadcastable row of SYMMETRIC-distance tables for
    * code-vs-code scoring ([[SemDedup.semDedupPq]]):
    * `sdc[s][i][j]` = integer partial dot of codewords i and j of
    * subspace s, `cn[s][i]` = codeword i's integer norm. m·k² longs —
    * KB-sized at any corpus scale (the tables depend on the CODEBOOK,
    * not the corpus). Indexed by dense dcid position, matching
    * [[encode]]'s code values. */
  private[similarity] def sdcRow(cbs: DataFrame): DataFrame = {
    val pairs = cbs.select(col("s"), col("dcid").as("i"), col("ce").as("cea"))
      .join(cbs.select(col("s"), col("dcid").as("j"), col("ce").as("ceb")), Seq("s"))
      .select(col("s"), col("i"), col("j"), dotQ(col("cea"), col("ceb")).as("pd"))
    val rows = pairs.groupBy("s", "i")
      .agg(transform(sort_array(collect_list(struct(col("j"), col("pd")))),
        p => p.getField("pd")).as("jrow"))
    val tbls = rows.groupBy("s")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("jrow")))),
        p => p.getField("jrow")).as("tbl"))
    val cns = cbs.groupBy("s")
      .agg(transform(sort_array(collect_list(struct(col("dcid"), col("cnrm")))),
        p => p.getField("cnrm")).as("cns"))
    tbls.join(cns, "s").agg(
      expr("transform(array_sort(collect_list(named_struct('s', s, 't', tbl))), x -> x.t)")
        .as("sdc"),
      expr("transform(array_sort(collect_list(named_struct('s', s, 'c', cns))), x -> x.c)")
        .as("cn"))
  }

  /** Encode every vector as its `m` nearest-codeword ids — the native
    * [[PqEncode]] expression against the broadcast positional codebook
    * row (one m·k·subDim codegen loop per row; the interpreted HOF
    * fold allocated a struct per codeword per row — the measured
    * build-side hot spot), zero shuffles. m and subDim are inferred
    * from the codebook shape. Returns (corpus columns…, codes
    * array<int>). */
  def encode(corpus: DataFrame, cbs: DataFrame): DataFrame =
    corpus
      .crossJoin(broadcast(cbs3Row(cbs)))
      .withColumn("codes", org.apache.spark.sql.graft.GraftFunctions
        .pqEncode(col("e"), col("cbs3"), col("cn2")))
      .drop("cbs3", "cn2")

  /** IVF-PQ ANN top-k: IVF coarse probe (numCentroids cells, nprobe
    * probed — identical build to [[IvfAnn.annIvf]]), ADC scoring of
    * the probed cells' CODES against the query's precomputed lookup
    * table, a `refine`-deep ADC shortlist per query, and an exact
    * integer-cosine re-rank of that shortlist. Output matches
    * q_ann_ivf: (q_id, neighbor_id, rank, cos). */
  def annIvfPq(corpus: DataFrame, queries: DataFrame, k: Int, numCentroids: Int, nprobe: Int,
      lloydIters: Int, m: Int, subDim: Int, pqK: Int, pqIters: Int, refine: Int): DataFrame = {
    // the coarse quantizer and the PQ codebooks are INDEPENDENT
    // driver-synchronous Lloyd chains over the same corpus — train
    // them concurrently so the second chain's jobs back-fill the
    // cores the first one's straggler tails leave idle (guide §2.6:
    // overlap independent jobs). Results are the two builds verbatim.
    val (coarse, cbs) = trainConcurrently(corpus.sparkSession.sparkContext)(
      IvfAnn.centroids(corpus, numCentroids, lloydIters),
      codebooks(corpus, m, subDim, pqK, pqIters))
    // inverted lists carry CODES, not vectors — the PQ memory story.
    // Codes are computed in the SAME corpus pass as the coarse
    // assignment and ride through the top-1 heap (carry): the previous
    // assign ⋈ encode join on vec_id re-scanned the corpus and paid a
    // full sort-merge join for a 1:1 self-alignment (guide §2.4)
    val lists = IvfAnn.assign(encode(corpus, cbs), coarse, carry = Seq("codes"))
      .select(col("vec_id"), col("c_id"), col("codes"))
    probeCoded(coarse, cbs, lists, queries, corpus, k, nprobe, refine)
  }

  /** Run two INDEPENDENT driver-synchronous build chains concurrently
    * (each is a sequence of eager checkpoints / broadcast builds whose
    * jobs the scheduler interleaves FIFO — the second chain's tasks
    * back-fill executor cores the first chain's stage tails leave
    * idle, guide §2.6). The caller must guarantee independence; any
    * failure propagates. `b` runs on a pool thread with its jobs under
    * a fresh job tag (the caller's job group is left alone); if `a`
    * throws, `b`'s tagged jobs are cancelled until `b` has returned
    * and `a`'s failure is rethrown — no job of either chain outlives
    * the call, so a following `Checkpoints.releaseAll()` never frees
    * blocks under a running plan. */
  private[similarity] def trainConcurrently[A, B](sc: SparkContext)(a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val tag = s"graft-train-${java.util.UUID.randomUUID()}"
    val fb = Future {
      sc.addJobTag(tag)
      try b finally sc.removeJobTag(tag)
    }
    val ra = try a catch {
      case t: Throwable =>
        // re-cancel until b returns: a job b submits after one cancel
        // is caught by the next
        while (!fb.isCompleted) {
          sc.cancelJobsWithTag(tag)
          scala.util.Try(Await.ready(fb, 100.millis))
        }
        throw t
    }
    (ra, Await.result(fb, Duration.Inf))
  }

  /** The probe tail over an ALREADY-BUILT (coarse, codebooks, coded
    * lists) triple — shared verbatim by [[annIvfPq]] (which trains per
    * call) and [[PqIndex.probe]] (which reads the persisted build), so
    * the two are bit-identical by code path. `corpus` supplies the
    * exact vectors for the refine re-rank (the index stores CODES
    * only — the PQ memory story; FAISS's IVFPQ+refine keeps the exact
    * store outside the lists the same way). */
  private[similarity] def probeCoded(coarse: DataFrame, cbs: DataFrame, lists: DataFrame,
      queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int, refine: Int): DataFrame = {
    require(refine >= k)
    val qs = queries
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("__ccos").desc, col("c_id").asc)
    val probed0 = qs
      .crossJoin(broadcast(coarse))
      .withColumn("__ccos", cosineQ(dotQ(col("qe"), col("ce")), col("qnrm"), col("cnrm")))
      .withColumn("__crn", row_number().over(probeW))
      .filter(col("__crn") <= nprobe)
      .select(col("q_id"), col("qe"), col("qnrm"), col("c_id"))
    // per-query ADC lookup tables, SPLIT by field so the scoring fold
    // is the native PqLookupSum expression (codegen'd m-lookup loop)
    // instead of an interpreted HOF over structs: lut_pd[s][dcid] =
    // partial dot of the query's subspace-s slice with codeword dcid
    // (the native PqLut loop — one m·k·subDim pass per query), and
    // lut_cn is the CONSTANT codeword-norm table cn2, a broadcast
    // column reference costing zero per-row work. Attached AFTER the
    // top-nprobe filter: the LUT is m·pqK longs (~4 KB at the gate
    // params — 8× the query vector), and carrying it through the
    // Q × centroids cross-join and the probe window's exchange was the
    // r14-profiled growing term of the indexed PQ probe (α(4→16) ≈ 1.0
    // at √N centroids, where the exact-list probe ran flat); computed
    // on the Q·nprobe survivors the duplicate work is nprobe tiny
    // passes per query and the window moves vectors, not tables.
    val probed = probed0
      .crossJoin(broadcast(cbs3Row(cbs)))
      .withColumn("lut_pd", org.apache.spark.sql.graft.GraftFunctions
        .pqLut(col("qe"), col("cbs3")))
      .withColumnRenamed("cn2", "lut_cn")
      .drop("cbs3")

    val pqSum = org.apache.spark.sql.graft.GraftFunctions.pqLookupSum _
    val adc = probed
      .join(lists, "c_id")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adot", pqSum(col("codes"), col("lut_pd")))
      .withColumn("anrm", pqSum(col("codes"), col("lut_cn")))
      // all-zero reconstructions can't be cosine-ranked — floor them
      .withColumn("acos", expr(
        "CASE WHEN anrm <= 0 OR qnrm <= 0 THEN CAST(-2.0 AS DOUBLE) " +
          "ELSE CAST(adot AS DOUBLE) / (sqrt(CAST(anrm AS DOUBLE)) * sqrt(CAST(qnrm AS DOUBLE))) END"))
    val shortlist = Similarity
      .rankedTopK(adc, col("q_id"), Seq(col("acos").desc, col("vec_id").asc), refine)
      .select(col("q_id"), col("vec_id"))

    // exact re-rank: the (Q·refine)-row shortlist broadcasts against
    // one corpus scan; queries broadcast for their exact vectors
    val exact = corpus
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("e").as("qe"),
        col("nrm").as("qnrm"))), "q_id")
      .withColumn("cos", cosineQ(dotQ(col("qe"), col("e")), col("qnrm"), col("nrm")))
    Similarity.rankedTopK(exact, col("q_id"), Seq(col("cos").desc, col("vec_id").asc), k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
  }
}
