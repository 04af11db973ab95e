package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Similarity.{cosineQ, dotQ}

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding corpus with the IVF
  * coarse quantizer, then within each cluster mark every vector that
  * has a LOWER-id cluster-mate with cosine >= tau as a semantic
  * duplicate. The id order makes the sweep deterministic and
  * replayable: it is exactly the greedy scan that walks each cluster
  * in id order and keeps the first representative of every
  * epsilon-neighborhood it meets.
  *
  * Scale shape: clustering is the [[IvfAnn]] build (broadcast
  * centroid table, no corpus shuffle); the duplicate scan is
  * per-cluster all-pairs — C(|cell|, 2) work, which is the SemDeDup
  * design point: with nlist ≈ √N cells the expected cell holds √N
  * vectors and total pair work is O(N^1.5), not the O(N²) of a
  * corpus-wide sweep. The pair join carries only (id, cluster,
  * vector) and the duplicate set reduces to bare ids before joining
  * back, so nothing document-sized ever shuffles twice.
  */
/** Worst-case bound on within-cell pair work for [[SemDedup.semDedup]].
  * A cell of m vectors costs C(m,2) comparisons, and one dense
  * embedding cluster (boilerplate pages in a scraped corpus) can
  * concentrate the whole job on a single cell — AQE skew-split can
  * re-balance the shuffle but not shrink the pair count. */
sealed trait CellCap
object CellCap {
  /** Scale-safe default: cap every cell at 4× the MEASURED average
    * cell size (≈ 4·N/nlist) — at the design point nlist ≈ √N that is
    * 4√N, so even a pathological all-in-one-cell corpus costs at most
    * ~N/cap · C(cap,2) ≈ 2N·cap pair evaluations instead of C(N,2).
    * Balanced corpora (max cell ≤ 4× average) are byte-identical to
    * [[Unbounded]]. */
  case object Auto extends CellCap
  /** No cap: the exact within-cell sweep regardless of skew — opt-in,
    * for corpora known to be balanced or small. */
  case object Unbounded extends CellCap
  /** Explicit cap, for pinning work bounds (and the oracle). */
  final case class Fixed(cap: Int) extends CellCap
}

object SemDedup {

  /** Per-vector semantic-dedup verdicts: (vec_id, c_id, is_dup) for
    * every corpus vector — `is_dup` = true iff a lower-id vector in
    * the same IVF cell has cosine >= tau. Survivors are the
    * `!is_dup` rows; callers drop or keep at will (the verdict table
    * joins back to payloads on vec_id).
    *
    * `corpus` must be [[Similarity.prepareQuantized]] shaped
    * (vec_id, e, nrm). Centroid build parameters mirror [[IvfAnn]];
    * at scale pick numCentroids ≈ √N ([[IvfAnn.suggestCentroids]]).
    *
    * `maxCellSize` bounds the worst-case pair work (see [[CellCap]]).
    * Cells above the cap are hash-split on vec_id into ceil(m/cap)
    * sub-shards, capping a cell's cost at ~nsub·C(cap,2); the sweep
    * stays exact WITHIN each sub-shard, so the cap trades bounded
    * recall (cross-shard dups of one oversized cell go unflagged) for
    * a hard worst-case bound — the standard blocking tradeoff. Cells
    * at or under the cap are byte-identical to the uncapped sweep.
    * The default [[CellCap.Auto]] measures the average cell size and
    * caps at 4× it, so a 100 TB run is bounded without tuning. */
  def semDedup(corpus: DataFrame, numCentroids: Int, lloydIters: Int, tau: Double,
      maxCellSize: CellCap = CellCap.Auto): DataFrame = {
    // vectors ride THROUGH the assignment's top-1 heap (carry): the
    // previous sharded ⋈ corpus join on vec_id paid a full sort-merge
    // join for a 1:1 self-alignment — twice, once per pair side
    val sharded = shardedAssignment(corpus, numCentroids, lloydIters, maxCellSize,
      assignInput = Some((corpus, Seq("e", "nrm"))))
    val mem = sharded
    val dups = mem.as("a")
      .join(mem.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.__sub") === col("b.__sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosineQ(dotQ(col("a.e"), col("b.e")), col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= tau)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    verdicts(sharded, dups)
  }

  /** PQ-screened SemDeDup: identical clustering, sharding, policy and
    * output shape to [[semDedup]], but within-cell pairs are first
    * scored on their PRODUCT-QUANTIZATION codes ([[PqAnn]] codebooks —
    * symmetric distance: one broadcast m·k² table of codeword-pair
    * partial dots, so a candidate pair costs m lookups and the pair
    * join shuffles m small ints per vector instead of the
    * full-dimension array — the FAISS-style memory story applied to
    * dedup). Pairs whose SDC cosine clears `tau − margin` get the
    * EXACT integer-cosine re-check at `tau`; the margin absorbs
    * quantization error, the re-check keeps precision exact (no false
    * dup can survive it). A true dup whose SDC estimate falls below
    * the screen is missed — the standard bounded-recall tradeoff,
    * spec-bounded on the real corpus at the default margin. */
  def semDedupPq(corpus: DataFrame, numCentroids: Int, lloydIters: Int, tau: Double,
      margin: Double, m: Int, subDim: Int, pqK: Int, pqIters: Int,
      maxCellSize: CellCap = CellCap.Auto): DataFrame = {
    // final Lloyd round checkpointed inside the build — no second eager.
    // Codes are computed in the SAME corpus pass as the coarse
    // assignment and ride through its top-1 heap (assign's carry): the
    // previous sharded ⋈ encode join on vec_id paid a full sort-merge
    // join for a 1:1 self-alignment — TWICE, once per pair side
    // (guide §2.4). The coarse quantizer and the PQ codebooks are
    // independent Lloyd chains — trained concurrently (guide §2.6).
    val (cents, cbs) = PqAnn.trainConcurrently(corpus.sparkSession.sparkContext)(
      IvfAnn.centroids(corpus, numCentroids, lloydIters),
      PqAnn.codebooks(corpus, m, subDim, pqK, pqIters))
    val sharded = shardedAssignment(corpus, numCentroids, lloydIters, maxCellSize,
      assignInput = Some((PqAnn.encode(corpus, cbs), Seq("codes"))),
      precomputedCents = Some(cents))
    val mem = sharded
    val screen = tau - margin
    // the per-PAIR scoring folds are the native PqSdcSum/PqLookupSum
    // expressions (codegen'd m-lookup loops — the PQ hot path); the
    // broadcast sdc/cn tables are built once per job
    val pqSum = org.apache.spark.sql.graft.GraftFunctions.pqLookupSum _
    val sdcSum = org.apache.spark.sql.graft.GraftFunctions.pqSdcSum _
    val pairs = mem.as("a")
      .join(mem.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.__sub") === col("b.__sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        col("a.codes").as("ca"), col("b.codes").as("cb"))
      .crossJoin(broadcast(PqAnn.sdcRow(cbs)))
      .withColumn("adot", sdcSum(col("ca"), col("cb"), col("sdc")))
      .withColumn("anrm", pqSum(col("ca"), col("cn")))
      .withColumn("bnrm", pqSum(col("cb"), col("cn")))
      .withColumn("acos", expr(
        "CASE WHEN anrm <= 0 OR bnrm <= 0 THEN CAST(-2.0 AS DOUBLE) " +
          "ELSE CAST(adot AS DOUBLE) / (sqrt(CAST(anrm AS DOUBLE)) * sqrt(CAST(bnrm AS DOUBLE))) END"))
    val cand = pairs.filter(col("acos") >= screen).select(col("va"), col("vb"))
    // exact re-check: only the screened candidate ids rejoin vectors
    val dups = cand
      .join(corpus.select(col("vec_id").as("va"), col("e").as("ea"), col("nrm").as("na")), "va")
      .join(corpus.select(col("vec_id").as("vb"), col("e").as("eb"), col("nrm").as("nb")), "vb")
      .withColumn("cos", cosineQ(dotQ(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= tau)
      .select(col("vb").as("vec_id"))
      .distinct()
    verdicts(sharded, dups)
  }

  /** (vec_id, c_id, is_dup) from the sharded assignment + dup set. */
  private def verdicts(sharded: DataFrame, dups: DataFrame): DataFrame =
    sharded.join(dups.withColumn("__d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"), coalesce(col("__d"), lit(false)).as("is_dup"))

  /** The shared clustering front half: IVF centroids, per-vector
    * assignment, and the cell-cap sub-sharding, checkpointed once as
    * a narrow (vec_id, [carry…,] c_id, __sub) tuple (see [[semDedup]]
    * notes). `assignInput` optionally substitutes the frame the
    * ASSIGNMENT runs over (a narrow derivation of `corpus`, e.g. the
    * PQ-encoded corpus) plus extra columns to carry through the top-1
    * heap — the centroid BUILD always trains on `corpus` itself. */
  private def shardedAssignment(corpus: DataFrame, numCentroids: Int, lloydIters: Int,
      maxCellSize: CellCap,
      assignInput: Option[(DataFrame, Seq[String])] = None,
      precomputedCents: Option[DataFrame] = None): DataFrame = {
    val cents = precomputedCents.getOrElse(
      IvfAnn.centroids(corpus, numCentroids, lloydIters))
    val (input, carry) = assignInput.getOrElse((corpus, Seq.empty[String]))
    val asg = IvfAnn.assign(input, cents, carry)
    // cell sizes: one row per centroid — bounded by nlist (≈ √N),
    // not by the corpus — so the split join is broadcastable by design
    def split(cap: Int, sizes: DataFrame): DataFrame =
      asg.join(broadcast(sizes), "c_id")
        .withColumn("__sub",
          pmod(xxhash64(col("vec_id")), ceil(col("__cn").cast("double") / cap).cast("long"))
            .cast("int"))
        .select(col("vec_id") +: carry.map(col) :+ col("c_id") :+ col("__sub"): _*)
    val sharded0 = maxCellSize match {
      case CellCap.Unbounded => asg.withColumn("__sub", lit(0))
      case CellCap.Fixed(cap) =>
        require(cap >= 1, "maxCellSize must be >= 1")
        split(cap, asg.groupBy("c_id").agg(count(lit(1)).as("__cn")))
      case CellCap.Auto =>
        // materialize the tiny size table once (nlist rows): read for
        // the cap scalar here, again by the split join — without the
        // checkpoint each read re-runs the per-vector assignment
        val sizes = graft.operators.Checkpoints.eager(
          asg.groupBy("c_id").agg(count(lit(1)).as("__cn")))
        val r = sizes.agg(sum("__cn"), count(lit(1))).head()
        val n = if (r.isNullAt(0)) 0L else r.getLong(0)
        val cells = math.max(1L, r.getLong(1))
        val cap = math.max(1L, math.min(Int.MaxValue.toLong, 4L * n / cells)).toInt
        split(cap, sizes)
    }
    // three consumers (both sides of the pair join + the verdict join)
    // and the assignment is itself a centroid-scan per vector —
    // materialize the narrow (vec_id, c_id, sub) triple once instead
    // of re-deriving it per consumer; released at the caller's next
    // Checkpoints.releaseAll() query boundary
    graft.operators.Checkpoints.eager(sharded0)
  }
}
