package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Misra-Gries buffer: bounded parallel counter arrays + total input
  * count. Top-level so the product encoder can codegen it. */
case class MGBuf(keys: Array[Long], counts: Array[Long], n: Long)

/** Misra-Gries result: candidate heavy keys + total input count. */
case class MGOut(keys: Array[Long], n: Long)

/** t-digest buffer: centroid means/weights (sorted after compress) +
  * an unsorted append tail that gets folded in on compress. */
case class TDBuf(means: Array[Double], weights: Array[Long])

/** Count-Min buffer: flattened d×w counter table + total input count. */
case class CMSBuf(table: Array[Long], n: Long)

/** AMS tug-of-war buffer: lanes ones-counters + the row count in the
  * last slot. */
case class F2Buf(regs: Array[Long])

/** KMV buffer: the k smallest DISTINCT hash values seen, sorted
  * ascending. Doubles as the finished sketch. */
case class KmvBuf(hashes: Array[Long])

/** Mergeable sketch aggregators (SURVEY.md §2.8) — the bounded-memory
  * single-pass summaries a 100 TB aggregation needs when exact
  * per-key state would not fit: distinct counts (HLL), heavy hitters
  * (Misra-Gries), quantiles (merging t-digest).
  *
  * All three are typed `Aggregator`s (the public UDAF tier): the
  * buffer is a small fixed-size summary, `merge` is associative and
  * commutative, so Spark runs them as partial aggregates map-side and
  * merges per-key summaries across the shuffle — the sketch never
  * sees row order and the state per group is O(sketch), not O(rows).
  *
  * Hashing for HLL happens OUTSIDE the aggregator (feed it
  * `xxhash64(col)`), so the per-row hash stays in whole-stage codegen
  * and the aggregator input is already uniform bits.
  */
object Sketches {

  // ---------------------------------------------------------------- HLL

  /** HyperLogLog over pre-hashed 64-bit input. `p` index bits →
    * m = 2^p byte registers; standard error ≈ 1.04/sqrt(m)
    * (p=12 → 1.6%). Buffer is the raw register array; merge is
    * element-wise max. */
  class Hll(p: Int) extends Aggregator[Long, Array[Byte], Long] {
    require(p >= 4 && p <= 18, "p in [4,18]")
    private val m = 1 << p

    override def zero: Array[Byte] = new Array[Byte](m)

    override def reduce(regs: Array[Byte], hash: Long): Array[Byte] = {
      val idx = (hash >>> (64 - p)).toInt
      // rank of the first 1-bit in the remaining 64-p bits, in [1, 64-p+1]
      val rest = hash << p
      val rho = (if (rest == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(rest)) + 1
      if (rho > regs(idx)) regs(idx) = rho.toByte
      regs
    }

    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }

    override def finish(regs: Array[Byte]): Long = {
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      var invSum = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        invSum += java.lang.Math.scalb(1.0, -regs(i)) // 2^-reg
        if (regs(i) == 0) zeros += 1
        i += 1
      }
      val raw = alpha * m.toLong * m.toLong / invSum
      val est =
        if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
        else raw
      math.round(est)
    }

    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Column handle: approx distinct of a pre-hashed long column. */
  def hll(hashed: Column, p: Int = 12): Column =
    udaf(new Hll(p), Encoders.scalaLong).apply(hashed)

  /** The same HLL, finishing to the raw register blob instead of the
    * estimate — the PERSISTABLE form. Register merge is element-wise
    * max, so union-of-sketches ≡ sketch-of-union exactly: an estimate
    * computed from merged blobs is bit-identical to one computed over
    * the concatenated inputs, which is what lets a stats ledger
    * answer whole-corpus distinct counts without rescanning old
    * drops ([[StatsLedger]]). */
  class HllSketch(p: Int) extends Aggregator[Long, Array[Byte], Array[Byte]] {
    private val inner = new Hll(p)
    override def zero: Array[Byte] = inner.zero
    override def reduce(regs: Array[Byte], hash: Long): Array[Byte] = inner.reduce(regs, hash)
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = inner.merge(a, b)
    override def finish(regs: Array[Byte]): Array[Byte] = regs
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Column handle: HLL register blob of a pre-hashed long column. */
  def hllSketch(hashed: Column, p: Int = 12): Column =
    udaf(new HllSketch(p), Encoders.scalaLong).apply(hashed)

  /** Merge persisted register blobs (element-wise max) and finish to
    * the distinct estimate — the read side of a sketch ledger. */
  class HllMerge(p: Int) extends Aggregator[Array[Byte], Array[Byte], Long] {
    private val inner = new Hll(p)
    override def zero: Array[Byte] = inner.zero
    override def reduce(acc: Array[Byte], regs: Array[Byte]): Array[Byte] = inner.merge(acc, regs)
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = inner.merge(a, b)
    override def finish(regs: Array[Byte]): Long = inner.finish(regs)
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Column handle: distinct estimate from merged register blobs. */
  def hllMergeEstimate(sketch: Column, p: Int = 12): Column =
    udaf(new HllMerge(p), Encoders.BINARY).apply(sketch)

  // -------------------------------------------------------- Misra-Gries

  /** Misra-Gries heavy-hitter candidates over long keys with k
    * counters: every key with true frequency > n/(k+1) is guaranteed
    * present in the output (undercount ≤ n/(k+1)); the output also
    * carries exact n so callers can turn a relative threshold into an
    * absolute one. Merge adds counters then decrements all by the
    * (k+1)-largest combined count (the standard mergeable-summary
    * construction, Agarwal et al., "Mergeable Summaries"). */
  class MisraGries(k: Int) extends Aggregator[Long, MGBuf, MGOut] {
    require(k >= 1)

    override def zero: MGBuf = MGBuf(Array.emptyLongArray, Array.emptyLongArray, 0L)

    private def toMap(b: MGBuf): scala.collection.mutable.LongMap[Long] = {
      val m = scala.collection.mutable.LongMap.empty[Long]
      var i = 0
      while (i < b.keys.length) { m.update(b.keys(i), b.counts(i)); i += 1 }
      m
    }

    private def fromMap(m: scala.collection.mutable.LongMap[Long], n: Long): MGBuf = {
      val ks = new Array[Long](m.size)
      val cs = new Array[Long](m.size)
      var i = 0
      m.foreach { case (key, c) => ks(i) = key; cs(i) = c; i += 1 }
      MGBuf(ks, cs, n)
    }

    /** Keep at most k counters: subtract the (k+1)-largest count from
      * all and drop non-positive ones. */
    private def shrink(m: scala.collection.mutable.LongMap[Long]): Unit =
      if (m.size > k) {
        val counts = m.values.toArray
        java.util.Arrays.sort(counts)
        val dec = counts(counts.length - (k + 1)) // (k+1)-th largest
        val dead = scala.collection.mutable.ArrayBuffer.empty[Long]
        m.mapValuesInPlace((_, c) => c - dec)
        m.foreach { case (key, c) => if (c <= 0) dead += key }
        dead.foreach(m.remove)
      }

    override def reduce(b: MGBuf, key: Long): MGBuf = {
      val m = toMap(b)
      m.update(key, m.getOrElse(key, 0L) + 1L)
      shrink(m)
      fromMap(m, b.n + 1)
    }

    override def merge(a: MGBuf, b: MGBuf): MGBuf = {
      val m = toMap(a)
      var i = 0
      while (i < b.keys.length) {
        m.update(b.keys(i), m.getOrElse(b.keys(i), 0L) + b.counts(i)); i += 1
      }
      shrink(m)
      fromMap(m, a.n + b.n)
    }

    override def finish(b: MGBuf): MGOut = MGOut(b.keys, b.n)

    override def bufferEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
    override def outputEncoder: Encoder[MGOut] = Encoders.product[MGOut]
  }

  /** Column handle: struct(keys: array<bigint>, n: bigint). */
  def misraGries(key: Column, k: Int): Column =
    udaf(new MisraGries(k), Encoders.scalaLong).apply(key)

  /** EXACT heavy hitters at scale, sketch-guided: pass 1 runs
    * Misra-Gries (bounded memory, map-side partial) to get a small
    * guaranteed-superset candidate set; pass 2 broadcast-semi-joins
    * the candidates and recounts them exactly. Returns keys with
    * exact count ≥ (num/den) · n. No driver collect — the candidate
    * set flows as a (≤ k)-row broadcast. k defaults to 2·den/num so
    * the MG guarantee (freq > n/(k+1) survives) covers the threshold
    * with slack.
    *
    * The share is a rational (num/den) and the final filter is pure
    * integer arithmetic (`cnt·den ≥ n·num`) — engine-portable with no
    * float-threshold edge cases. */
  def heavyHitters(df: DataFrame, key: Column, shareNum: Long, shareDen: Long,
      kOpt: Option[Int] = None): DataFrame = {
    require(shareNum > 0 && shareNum < shareDen)
    val k = kOpt.getOrElse(math.ceil(2.0 * shareDen / shareNum).toInt)
    val mg = df.agg(misraGries(key, k).as("mg"))
      .select(col("mg.n").as("__n"), explode(col("mg.keys")).as("__cand"))
    df.select(key.as("__k"))
      .join(broadcast(mg), col("__k") === col("__cand"))
      .groupBy(col("__k").as("key"))
      .agg(count(lit(1)).as("cnt"), first(col("__n")).as("__n"))
      .filter(col("cnt") * shareDen >= col("__n") * shareNum)
      .select(col("key"), col("cnt"))
  }

  /** [[heavyHitters]] PER GROUP — "top terms per source", the
    * datasheet-adjacent corpus question: for each group, the keys
    * holding ≥ (num/den) of THAT group's stream. Same two-pass
    * architecture: one Misra-Gries sketch per group (bounded memory
    * per group, map-side partial merge — group count never matters),
    * then a broadcast of the (≤ groups·k)-row candidate table and an
    * exact recount keyed by (group, key). The MG guarantee is
    * per-group (any key with share > 1/(k+1) of its group survives
    * the sketch), so the integer-threshold filter over EXACT counts
    * is deterministic and order-independent even though each group's
    * candidate superset is not.
    *
    * Scale: two corpus passes, each with one group-keyed exchange;
    * the candidate join is a broadcast (audit-sized right side). A
    * group so hot its exact recount skews the second exchange is the
    * q_salted_join situation — salt the recount, not this default. */
  def heavyHittersByGroup(df: DataFrame, group: Column, key: Column,
      shareNum: Long, shareDen: Long, kOpt: Option[Int] = None): DataFrame = {
    require(shareNum > 0 && shareNum < shareDen)
    val k = kOpt.getOrElse(math.ceil(2.0 * shareDen / shareNum).toInt)
    val mg = df.groupBy(group.as("__g")).agg(misraGries(key, k).as("mg"))
      .select(col("__g"), col("mg.n").as("__n"), explode(col("mg.keys")).as("__cand"))
    df.select(group.as("grp"), key.as("__k"))
      .join(broadcast(mg), col("grp") === col("__g") && col("__k") === col("__cand"))
      .groupBy(col("grp"), col("__k").as("key"))
      .agg(count(lit(1)).as("cnt"), first(col("__n")).as("__n"))
      .filter(col("cnt") * shareDen >= col("__n") * shareNum)
      .select(col("grp"), col("key"), col("cnt"))
  }

  // ----------------------------------------------------------- Count-Min

  /** Row-mixing constants for the CMS hash family: the splitmix64
    * increment stream (odd, well-distributed). Up to 8 rows. */
  private val CmsSeeds: Array[Long] = Array(
    0x9E3779B97F4A7C15L, 0xBF58476D1CE4E5B9L, 0x94D049BB133111EBL,
    0xD6E8FEB86659FD93L, 0xC2B2AE3D27D4EB4FL, 0x2545F4914F6CDD1DL,
    0x27D4EB2F165667C5L, 0x165667B19E3779F9L)

  /** One Count-Min bucket: xor-mix the pre-hashed key with the row
    * seed, finalize (murmur3 fmix64 step), reduce mod w. Pure JVM long
    * arithmetic — wrap-on-overflow is the point, which is why the
    * probe below is a UDF rather than Column math (ANSI mode would
    * throw on the deliberate overflow). */
  private def cmsBucket(hash: Long, row: Int, w: Int): Int = {
    var h = (hash ^ CmsSeeds(row)) * 0xFF51AFD7ED558CCDL
    h ^= (h >>> 33)
    (((h % w) + w) % w).toInt
  }

  /** Count-Min sketch (Cormode–Muthukrishnan) over pre-hashed 64-bit
    * keys: d rows × w counters; point estimate = min over rows, always
    * ≥ the true count (one-sided error ≤ 2n/w with prob 1-2^-d). The
    * buffer is the flat counter table; merge is element-wise add, so
    * partial sketches combine map-side exactly like a sum. */
  class CountMin(d: Int, w: Int) extends Aggregator[Long, CMSBuf, CMSBuf] {
    require(d >= 1 && d <= CmsSeeds.length, s"d in [1, ${CmsSeeds.length}]")
    require(w >= 8)

    override def zero: CMSBuf = CMSBuf(new Array[Long](d * w), 0L)

    override def reduce(b: CMSBuf, hash: Long): CMSBuf = {
      var r = 0
      while (r < d) { b.table(r * w + cmsBucket(hash, r, w)) += 1L; r += 1 }
      CMSBuf(b.table, b.n + 1)
    }

    override def merge(a: CMSBuf, b: CMSBuf): CMSBuf = {
      var i = 0
      while (i < a.table.length) { a.table(i) += b.table(i); i += 1 }
      CMSBuf(a.table, a.n + b.n)
    }

    override def finish(b: CMSBuf): CMSBuf = b

    override def bufferEncoder: Encoder[CMSBuf] = Encoders.product[CMSBuf]
    override def outputEncoder: Encoder[CMSBuf] = Encoders.product[CMSBuf]
  }

  /** Column handle: struct(table: array<bigint>, n: bigint) of a
    * pre-hashed long column (feed `xxhash64(col)`). */
  def cms(hashed: Column, d: Int = 4, w: Int = 2048): Column =
    udaf(new CountMin(d, w), Encoders.scalaLong).apply(hashed)

  /** Point estimate for a pre-hashed key against a [[cms]] table.
    * Runs once per PROBE key (never per corpus row), so UDF overhead
    * is irrelevant — and it must replay the wrap-on-overflow bucket
    * math, which ANSI Column arithmetic would reject. */
  def cmsEstimate(table: Column, hashedKey: Column, d: Int, w: Int): Column = {
    val probe = udf { (t: Seq[Long], hash: Long) =>
      var best = Long.MaxValue
      var r = 0
      while (r < d) {
        val c = t(r * w + cmsBucket(hash, r, w))
        if (c < best) best = c
        r += 1
      }
      best
    }
    probe(table, hashedKey)
  }

  /** EXACT frequency gate at scale, sketch-guided (the CMS sibling of
    * [[heavyHitters]]): pass 1 builds one Count-Min sketch (map-side
    * partial merge, O(d·w) state); pass 2 probes each distinct key
    * against the broadcast sketch — estimates are one-sided, so keys
    * with true count ≥ minCount ALWAYS survive — and pass 3 recounts
    * the surviving candidates exactly. Output = keys with exact count
    * ≥ minCount, regardless of sketch collisions; false positives cost
    * only recount work (bounded by the CMS error, ~2n/w per key). */
  def cmsFrequencyGate(df: DataFrame, key: Column, minCount: Long,
      d: Int = 4, w: Int = 2048): DataFrame = {
    // the sketch travels EXPLODED — one tiny broadcast (counter index,
    // count) relation — not as a d·w-long array stapled to every
    // candidate row (the crossJoin-a-struct shape deserializes the
    // whole table once per key; measurable waste at millions of keys)
    val sk = df.agg(cms(xxhash64(key), d, w).as("__sk"))
      .select(posexplode(col("__sk.table")).as(Seq("__idx", "__cnt")))
    val bucketsOf = udf { (hash: Long) =>
      Array.tabulate(d)(r => r * w + cmsBucket(hash, r, w))
    }
    // Probe once per DISTINCT key (map-side partial distinct keeps the
    // exchange keys-only): each key emits its d counter indexes, joins
    // the broadcast sketch, min over its d counts = the CMS estimate.
    // The min aggregate re-groups on the key the distinct already
    // partitioned by, so no additional exchange. Candidates = heavy
    // keys + the sketch's bounded false positives.
    val cand = df.select(key.as("__cand")).distinct()
      .select(col("__cand"), explode(bucketsOf(xxhash64(col("__cand")))).as("__idx"))
      .join(broadcast(sk), "__idx")
      .groupBy("__cand").agg(min(col("__cnt")).as("__est"))
      .filter(col("__est") >= minCount)
      .select("__cand")
    // Exact recount of candidates only: the semi-join pre-filter means
    // rows of light keys never reach the aggregation exchange. No
    // broadcast hint on the candidate set — true candidates are
    // bounded by n/minCount but false positives are only
    // probabilistically bounded, and n/minCount itself grows with the
    // data; AQE elects broadcast at runtime when the set is actually
    // small (it is, at any sane threshold) without pinning an OOM at
    // 1000× scale.
    df.select(key.as("key"))
      .join(cand, col("key") === col("__cand"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  // ------------------------------------------------------------ t-digest

  /** Merging t-digest (Dunning) with compression δ: centroids are
    * merged greedily in mean order subject to the q(1-q) size bound,
    * so tail quantiles keep fine resolution. `reduce` appends
    * singleton centroids and compresses lazily (amortized O(log)
    * per row); `merge` concatenates + compresses. */
  class TDigest(delta: Int) extends Aggregator[Long, TDBuf, TDBuf] {
    require(delta >= 20)
    private val maxBuf = delta * 4

    override def zero: TDBuf = TDBuf(Array.emptyDoubleArray, Array.emptyLongArray)

    /** k1 scale function (arcsine): fine resolution at the tails, and
      * a merged digest never exceeds δ centroids — independent of n. */
    private def kScale(q: Double): Double =
      delta / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

    private def compress(means: Array[Double], weights: Array[Long]): TDBuf = {
      if (means.isEmpty) return TDBuf(means, weights)
      val idx = means.indices.toArray.sortBy(means)
      val total = weights.sum.toDouble
      val outM = scala.collection.mutable.ArrayBuffer.empty[Double]
      val outW = scala.collection.mutable.ArrayBuffer.empty[Long]
      var curM = means(idx(0))
      var curW = weights(idx(0))
      var wSoFar = 0.0
      var kLeft = kScale(0.0)
      var i = 1
      while (i < idx.length) {
        val m2 = means(idx(i)); val w2 = weights(idx(i))
        if (kScale((wSoFar + curW + w2) / total) - kLeft <= 1.0) {
          // weighted mean; weights are integral so this is deterministic
          curM = (curM * curW + m2 * w2) / (curW + w2)
          curW += w2
        } else {
          outM += curM; outW += curW; wSoFar += curW
          kLeft = kScale(wSoFar / total)
          curM = m2; curW = w2
        }
        i += 1
      }
      outM += curM; outW += curW
      TDBuf(outM.toArray, outW.toArray)
    }

    private def maybeCompress(b: TDBuf): TDBuf =
      if (b.means.length > maxBuf) compress(b.means, b.weights) else b

    override def reduce(b: TDBuf, x: Long): TDBuf =
      maybeCompress(TDBuf(b.means :+ x.toDouble, b.weights :+ 1L))

    override def merge(a: TDBuf, b: TDBuf): TDBuf =
      compress(a.means ++ b.means, a.weights ++ b.weights)

    override def finish(b: TDBuf): TDBuf = compress(b.means, b.weights)

    override def bufferEncoder: Encoder[TDBuf] = Encoders.product[TDBuf]
    override def outputEncoder: Encoder[TDBuf] = Encoders.product[TDBuf]
  }

  /** Column handle: digest struct(means, weights) of a long column. */
  def tdigest(value: Column, delta: Int = 200): Column =
    udaf(new TDigest(delta), Encoders.scalaLong).apply(value)

  /** Quantile estimate from a digest struct produced by [[tdigest]]:
    * walk the cumulative weight to rank q·n and linearly interpolate
    * between neighboring centroid midpoints (Dunning's estimator).
    *
    * This is a Scala UDF by choice: it runs once per GROUP on a
    * ≤ δ-entry digest (the per-row hot path is the codegen'd
    * aggregation above), so UDF overhead is irrelevant here and the
    * imperative walk is clearer than interpreted array HOFs. */
  def tdigestQuantile(digest: Column, q: Double): Column =
    quantileUdf(digest.getField("means"), digest.getField("weights"), lit(q))

  private val quantileUdf = udf { (means: Seq[Double], weights: Seq[Long], q: Double) =>
    if (means.isEmpty) None
    else {
      val total = weights.sum.toDouble
      val rank = q * total
      // cumulative midpoints: centroid i "sits at" cum(i-1) + w(i)/2
      var cum = 0.0
      var prevMid = 0.0
      var prevMean = means.head
      var res: Option[Double] = None
      var i = 0
      while (i < means.length && res.isEmpty) {
        val mid = cum + weights(i) / 2.0
        if (rank <= mid) {
          res = Some(
            if (i == 0 || mid == prevMid) means(i)
            else prevMean + (means(i) - prevMean) * (rank - prevMid) / (mid - prevMid))
        }
        cum += weights(i)
        prevMid = mid
        prevMean = means(i)
        i += 1
      }
      Some(res.getOrElse(means.last))
    }
  }

  /** Priority sampling (Duffield–Lund–Thorup, JACM 2007): a
    * FIXED-SIZE weighted sample without replacement in one pass —
    * "give me exactly k documents, heavy ones more likely, with
    * unbiased weight estimates" at any corpus size. Each row draws
    * priority w/u with u uniform; the k highest priorities are the
    * sample and the (k+1)-th priority τ yields the Horvitz–Thompson
    * estimate max(w, τ) (unbiased for any subset-sum; Σ est ≈ Σ w).
    * The complement of [[graft.text.TextPrep.weightedSample]]'s
    * Bernoulli gate: that fixes the RATE, this fixes the SIZE.
    *
    * Engine-portable determinism: u = 28-bit md5 of the key + 1, so
    * u/2^28 plays uniform(0,1] and the priority w/(u/2^28) computes
    * as the exact integer (w·2^28) div u — ALREADY IN WEIGHT UNITS
    * (it is w scaled up by 1/u_norm ≥ 1), no float anywhere; ranking,
    * τ and estimates replay bit-for-bit (ties broken by key asc).
    * Rows with weight < 1 are excluded by contract. The priority is
    * computed as (w div u)·2^28 + ((w mod u)·2^28) div u — the same
    * integer, but no intermediate exceeds the result — so any weight
    * whose TRUE priority fits a BIGINT is handled exactly, and a
    * priority ≥ 2^63 (w div u ≥ 2^35) raises a loud error instead of
    * silently wrapping in non-ANSI mode.
    *
    * Scale shape: TakeOrdered ships k+1 rows per partition at most —
    * no global sort, no shuffle of the corpus; the τ/estimate window
    * runs over the k+1 survivors. Output: (key, w, pri, tau, est)
    * with est = max(w, τ) the per-row weight estimate. */
  /** Exact (w·scale) div __u without the w·scale intermediate:
    * (w div u)·scale + ((w mod u)·scale) div u — the quotient term is
    * an exact multiple of scale so the sum IS the floored quotient.
    * The remainder term stays under scale² = 2^56; the quotient term
    * is guarded — (w div u) ≥ 2^35 means the TRUE priority exceeds
    * BIGINT, which raises loudly instead of wrapping negative in
    * non-ANSI mode and silently corrupting τ and the HT estimates. */
  private def priorityExact(scale: Long): Column =
    when(expr(s"(w div __u) < ${1L << 35}L"),
      expr(s"(w div __u) * ${scale}L + ((w % __u) * ${scale}L) div __u"))
      .otherwise(raise_error(concat(
        lit("prioritySample: priority (w * 2^28 / u) overflows BIGINT for key="),
        col("key").cast("string"))))

  /** The top-(k+1) priority candidates (key, w, pri) — the MERGEABLE
    * carrier of a running sample: priorities are per-key
    * deterministic, so top-(k+1) of a union of candidate sets equals
    * top-(k+1) of the union of the full inputs. The streaming sample
    * ledger merges exactly this frame across drops. */
  def priorityCandidates(df: DataFrame, key: Column, weight: Column, k: Int): DataFrame = {
    require(k >= 1)
    val scale = 1L << 28
    df.select(key.as("key"), weight.cast("long").as("w"))
      .filter(col("w") >= 1)
      .withColumn("__u",
        pmod(conv(substring(md5(col("key").cast("string")), 1, 7), 16, 10).cast("long"),
          lit(scale)) + 1)
      .withColumn("pri", priorityExact(scale))
      .orderBy(col("pri").desc, col("key").asc).limit(k + 1)
      .select("key", "w", "pri")
  }

  /** τ/estimate finalization over a ≤(k+1)-row candidate frame. */
  def sampleFromCandidates(cands: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col("pri").desc, col("key").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    cands
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("tau",
        coalesce(max(when(col("__rn") === k + 1, col("pri"))).over(wAll), lit(0L)))
      .filter(col("__rn") <= k)
      .withColumn("est", greatest(col("w"), col("tau")))
      .select("key", "w", "pri", "tau", "est")
  }

  def prioritySample(df: DataFrame, key: Column, weight: Column, k: Int): DataFrame =
    sampleFromCandidates(priorityCandidates(df, key, weight, k), k)

  /** Fold one drop into a persisted running sample — the streaming
    * form of [[prioritySample]] (call it per micro-batch). The ledger
    * at `ledgerPath` holds the top-(k+1) candidates seen so far; the
    * drop reduces to its own top-(k+1), merges with the ledger by key
    * (the larger weight wins — priorities are per-key deterministic,
    * so a re-delivered row collapses instead of occupying two slots),
    * and re-ranks. The fold is order-independent AND replay-idempotent:
    * re-folding a drop the ledger already absorbed leaves it
    * bit-identical, since top-(k+1)(ledger ∪ drop) = ledger. The pool
    * is ≤ 2(k+1) rows, and the result is materialized before the
    * overwrite because it is derived from the file being replaced.
    *
    * The current sample is `sampleFromCandidates(spark.read.parquet(
    * ledgerPath), k)`: bit-equal to [[prioritySample]] over everything
    * folded so far PROVIDED keys are unique across the stream. The
    * ledger merge collapses duplicate keys to max(w) — that is what
    * makes a replay idempotent — while the batch operator keeps
    * same-key rows as independent candidates occupying separate
    * top-(k+1) slots. Streams whose rows are observations of a keyed
    * entity satisfy this; for multiset semantics make the key unique
    * per row upstream (e.g. append an event id). */
  def foldPriorityCandidates(ledgerPath: String, batch: DataFrame, key: Column,
      weight: Column, k: Int): Unit = {
    val spark = batch.sparkSession
    val batchCands = priorityCandidates(batch, key, weight, k).select("key", "w")
    val pool =
      if (new java.io.File(ledgerPath).exists())
        spark.read.parquet(ledgerPath).select("key", "w").unionByName(batchCands)
      else batchCands
    val merged = priorityCandidates(
      pool.groupBy("key").agg(max(col("w")).as("w")), col("key"), col("w"), k)
    val rows = merged.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), merged.schema)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(ledgerPath)
  }

  /** Per-GROUP priority sampling: exactly [[prioritySample]]'s
    * integer priorities (same md5 draw, same (w·2^28) div u math, so
    * per-group results are bit-identical to running the global
    * operator on each group alone — spec-pinned), but the k+1
    * survivors per group are selected by the bounded-heap GroupTopK
    * physical operator instead of a global TakeOrdered: partial heaps
    * ship ≤ k+1 rows per (partition, group) across ONE exchange, the
    * τ/estimate window then runs over ≤ k+1 rows per group. The
    * "exactly k documents PER SOURCE, heavy ones more likely,
    * unbiased per-source totals" balanced-corpus sampler. Output:
    * (grp, key, w, pri, tau, est). */
  def groupPrioritySample(df: DataFrame, group: Column, key: Column,
      weight: Column, k: Int): DataFrame = {
    require(k >= 1)
    val scale = 1L << 28
    val base = df.select(group.as("grp"), key.as("key"), weight.cast("long").as("w"))
      .filter(col("w") >= 1)
      .withColumn("__u",
        pmod(conv(substring(md5(col("key").cast("string")), 1, 7), 16, 10).cast("long"),
          lit(scale)) + 1)
      .withColumn("pri", priorityExact(scale))
    val top = org.apache.spark.sql.graft.GraftPlans.groupTopK(
      base, Seq(col("grp")), Seq(col("pri").desc, col("key").asc), k + 1)
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("pri").desc, col("key").asc)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    top.withColumn("__rn", row_number().over(wg))
      .withColumn("tau",
        coalesce(max(when(col("__rn") === k + 1, col("pri"))).over(wAll), lit(0L)))
      .filter(col("__rn") <= k)
      .withColumn("est", greatest(col("w"), col("tau")))
      .select("grp", "key", "w", "pri", "tau", "est")
  }

  // ---------------------------------------------------------------- KMV

  /** KMV / bottom-k theta sketch (Bar-Yossef et al. 2002; the
    * Theta-sketch framework of Dasgupta et al.): keep the k smallest
    * DISTINCT hash values of a set. Unlike HLL it supports SET
    * OPERATIONS — two sketches intersect by comparing their retained
    * samples below the smaller threshold θ (the k-th minimum), giving
    * overlap estimates between 100 TB corpora from two k-row
    * summaries and zero re-scans.
    *
    * Mergeable (merge = sorted-distinct union, keep k) so Spark runs
    * it as map-side partial aggregates; per-group state is O(k)
    * longs. Feed it an engine-portable non-negative hash
    * ([[graft.functions.Hashing.portableHash64]]) and every
    * downstream number — θ, distinct estimate, overlap estimate — is
    * exact integer / IEEE-double math that any engine replays
    * bit-for-bit (the estimate-side contract the oracle gate needs;
    * same philosophy as [[prioritySample]]'s integer priorities). */
  class Kmv(k: Int) extends Aggregator[Long, KmvBuf, KmvBuf] {
    require(k >= 1)

    override def zero: KmvBuf = KmvBuf(Array.emptyLongArray)

    override def reduce(b: KmvBuf, h: Long): KmvBuf = {
      val a = b.hashes
      val pos = java.util.Arrays.binarySearch(a, h)
      if (pos >= 0) b // duplicate: sketches see sets
      else {
        val ins = -pos - 1
        if (a.length < k) {
          val out = new Array[Long](a.length + 1)
          System.arraycopy(a, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(a, ins, out, ins + 1, a.length - ins)
          KmvBuf(out)
        } else if (ins < k) { // h beats the current max: insert, drop last
          val out = new Array[Long](k)
          System.arraycopy(a, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(a, ins, out, ins + 1, k - ins - 1)
          KmvBuf(out)
        } else b
      }
    }

    override def merge(x: KmvBuf, y: KmvBuf): KmvBuf = {
      val (a, b) = (x.hashes, y.hashes)
      if (a.isEmpty) return y
      if (b.isEmpty) return x
      val out = new Array[Long](math.min(k, a.length + b.length))
      var (i, j, n) = (0, 0, 0)
      while (n < out.length && (i < a.length || j < b.length)) {
        val takeA = j >= b.length || (i < a.length && a(i) <= b(j))
        val v = if (takeA) a(i) else b(j)
        if (takeA) i += 1 else j += 1
        if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
      }
      KmvBuf(if (n == out.length) out else java.util.Arrays.copyOf(out, n))
    }

    override def finish(b: KmvBuf): KmvBuf = b

    override def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
    override def outputEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
  }

  /** KMV sketch column over pre-hashed non-negative input: the sorted
    * array of the k smallest distinct hashes. */
  def kmv(hashed: Column, k: Int): Column =
    udaf(new Kmv(k)).apply(hashed).getField("hashes")

  /** Hash-space size matching [[graft.functions.Hashing
    * .portableHash64]]'s 60-bit output: hashes are uniform on
    * [0, 2^60). Exactly representable as a double, as is c·2^60 for
    * any small count c — so the estimate divisions below are pure
    * IEEE binary64 with every input exact, and replay identically in
    * any engine. */
  val KmvSpace: Long = 1L << 60

  /** θ threshold of a sketch: the k-th minimum when the sketch is
    * full, else the whole hash space (the sketch IS the set). */
  def kmvTheta(sk: Column, k: Int): Column =
    when(size(sk) < k, lit(KmvSpace)).otherwise(element_at(sk, -1))

  /** Distinct-count estimate: exact size below k, else the classic
    * (k−1)·M/θ bottom-k estimator, floored to a long. */
  def kmvDistinctEstimate(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("long"))
      .otherwise(floor(lit((k - 1).toDouble) * lit(KmvSpace).cast("double")
        / element_at(sk, -1).cast("double")).cast("long"))

  /** Overlap estimate from two sketches: count common retained hashes
    * at or below the joint θ, scale by M/θ. When both sketches are
    * below capacity this degrades to the EXACT overlap (θ = M). */
  def kmvOverlapEstimate(skA: Column, skB: Column, k: Int): (Column, Column) = {
    val theta = least(kmvTheta(skA, k), kmvTheta(skB, k))
    val common = size(filter(array_intersect(skA, skB), h => h <= theta)).cast("long")
    val est = floor(common.cast("double") * lit(KmvSpace).cast("double")
      / theta.cast("double")).cast("long")
    (common, est)
  }

  /** The full theta set-algebra report from two sketches: retained
    * union/common sizes below the joint θ, union + overlap estimates
    * (common·M/θ and union·M/θ), and the Jaccard similarity as exact
    * integer PER-MILLE of the retained sample, ⌊1000·common/union⌋ —
    * the sample below θ is a uniform random subset of the true union,
    * so the ratio is the textbook theta-sketch Jaccard estimator.
    * Columns: (common, union_n, est_overlap, est_union, jacc_pm). */
  def kmvSetAlgebra(skA: Column, skB: Column, k: Int): Seq[Column] = {
    val theta = least(kmvTheta(skA, k), kmvTheta(skB, k))
    val common = size(filter(array_intersect(skA, skB), h => h <= theta)).cast("long")
    val unionN = size(filter(array_union(skA, skB), h => h <= theta)).cast("long")
    def scaled(c: Column) = floor(c.cast("double") * lit(KmvSpace).cast("double")
      / theta.cast("double")).cast("long")
    val jacc = when(unionN === 0, lit(0L))
      .otherwise(floor(lit(1000L) * common / unionN).cast("long"))
    Seq(common.as("common"), unionN.as("union_n"), scaled(common).as("est_overlap"),
      scaled(unionN).as("est_union"), jacc.as("jacc_pm"))
  }

  /** AMS tug-of-war register aggregator: `lanes` ones-counters (lane
    * j counts rows whose portable-hash bit j is set) plus the row
    * count in the last slot — Z_j = 2·ones_j − n derives at finish.
    * Plain element-wise sums, so partial buffers merge by addition
    * (map-side combine IS the merge) and the same aggregator runs
    * unchanged under a streaming window group. Finish = the F2
    * estimate (Σ_j Z_j²) div lanes, identical to [[amsF2]]'s
    * formulation. */
  class AmsF2(lanes: Int) extends Aggregator[Long, F2Buf, Long] {
    override def zero: F2Buf = F2Buf(new Array[Long](lanes + 1))
    override def reduce(b: F2Buf, h: Long): F2Buf = {
      val r = b.regs
      var j = 0
      while (j < lanes) { r(j) += (h >>> j) & 1L; j += 1 }
      r(lanes) += 1L
      b
    }
    override def merge(a: F2Buf, b: F2Buf): F2Buf = {
      var j = 0
      while (j <= lanes) { a.regs(j) += b.regs(j); j += 1 }
      a
    }
    override def finish(b: F2Buf): Long = {
      val n = b.regs(lanes)
      var s = 0L
      var j = 0
      while (j < lanes) { val z = 2L * b.regs(j) - n; s += z * z; j += 1 }
      s / lanes
    }
    override def bufferEncoder: Encoder[F2Buf] = Encoders.product[F2Buf]
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Column handle: F2 estimate of a pre-hashed (portable 60-bit)
    * long column — the one-exchange form [[amsF2]] and the streaming
    * monitor both ride. */
  def amsF2Agg(hashed: Column, lanes: Int = 60): Column =
    udaf(new AmsF2(lanes), Encoders.scalaLong).apply(hashed)

  /** AMS second-moment (F2) sketch — the skew detector: F2 = Σ_k f_k²
    * over a key column is exactly the quantity that predicts hash-join
    * build-chain length and shuffle-partition blow-up on a hot key,
    * and the AMS tug-of-war sketch (Alon–Matias–Szegedy 1996)
    * estimates it in O(lanes) space per group from ONE scan, no
    * (group, key) aggregate anywhere. Lane j keeps Z_j = Σ_x s_j(x)
    * with s_j(x) = ±1 from bit j of the portable 60-bit hash — so all
    * 60 lanes ride a single md5 per row — and E[Z_j²] = F2. The whole
    * sketch reduces to counting set bits per lane: Z_j = 2·ones_j − n,
    * plain integer sums, so lane registers merge by addition (map-side
    * partial aggregation IS the merge) and the estimate
    * (Σ_j Z_j²) div lanes is bit-identical in any engine.
    *
    * Plan shape: scan → ONE (group) exchange of the [[AmsF2]]
    * register buffers (map-side partial reduce collapses each
    * partition to one 61-long buffer per group before the shuffle).
    * Nothing key-sized ever shuffles — at 100 TB the exact F2 (a
    * full (group, key) aggregate over the hot column) is precisely
    * the job this sketch exists to avoid. Returns (g, n, f2_est). */
  def amsF2(df: DataFrame, group: Column, key: Column, lanes: Int = 60): DataFrame = {
    require(lanes >= 1 && lanes <= 60, "portable hash provides 60 usable bits")
    df.select(group.as("g"), graft.functions.Hashing.portableHash64(key).as("h"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), amsF2Agg(col("h"), lanes).as("f2_est"))
  }

  /** Join-key discovery (inclusion-dependency profiling): given a set
    * of named key columns from ARBITRARY tables, estimate for every
    * pair how much of one column's value set is contained in the
    * other's — the "which columns join" question a data-lake pipeline
    * asks before it can do anything else with 100 TB of unfamiliar
    * parquet. One KMV sketch per column (each table scanned once for
    * its columns, map-side partial buffers); the pair stage reads
    * only the n_cols × k retained hashes. Containment is measured on
    * the retained sample below the joint θ — a uniform random subset
    * of each value set — as exact integer per-mille
    * ⌊1000·common/|side≤θ|⌋, direction-specific (o_custkey ⊆
    * c_custkey holds; the reverse doesn't). `joinable` flags pairs
    * where either direction clears 900‰. Columns: (col_a, col_b,
    * est_a, est_b, cont_a_pm, cont_b_pm, joinable). */
  def inclusionReport(columns: Seq[(String, DataFrame, Column)], k: Int): DataFrame = {
    val union = columns.map { case (nm, df, c) =>
      df.select(lit(nm).as("__g"), graft.functions.Hashing.portableHash64(c).as("h"))
    }.reduce(_.union(_))
    val sk = graft.operators.Checkpoints.eager(
      union.groupBy("__g").agg(kmv(col("h"), k).as("sk"))
        .select(col("__g"), col("sk"), kmvDistinctEstimate(col("sk"), k).as("est")))
    val a = sk.select(col("__g").as("col_a"), col("sk").as("ska"), col("est").as("est_a"))
    val b = sk.select(col("__g").as("col_b"), col("sk").as("skb"), col("est").as("est_b"))
    a.join(b, col("col_a") < col("col_b"))
      .withColumn("__th", least(kmvTheta(col("ska"), k), kmvTheta(col("skb"), k)))
      .withColumn("__an", size(filter(col("ska"), h => h <= col("__th"))).cast("long"))
      .withColumn("__bn", size(filter(col("skb"), h => h <= col("__th"))).cast("long"))
      .withColumn("__cm",
        size(filter(array_intersect(col("ska"), col("skb")), h => h <= col("__th"))).cast("long"))
      .withColumn("cont_a_pm",
        when(col("__an") === 0, lit(0L)).otherwise(expr("(__cm * 1000) div __an")))
      .withColumn("cont_b_pm",
        when(col("__bn") === 0, lit(0L)).otherwise(expr("(__cm * 1000) div __bn")))
      .select(col("col_a"), col("col_b"), col("est_a"), col("est_b"),
        col("cont_a_pm"), col("cont_b_pm"),
        (greatest(col("cont_a_pm"), col("cont_b_pm")) >= 900).cast("int").as("joinable"))
  }

  /** Pairwise overlap report across groups: one KMV sketch per group
    * (single corpus scan, map-side partial buffers), then the full
    * [[kmvSetAlgebra]] per group pair from the checkpointed
    * n_groups-row sketch table — the "how much do these crawls
    * overlap" matrix without the quadratic exact join. Shared by
    * q_kmv_overlap and the `kmv-overlap` CLI verb. */
  def kmvOverlapReport(df: DataFrame, group: Column, text: Column, k: Int,
      leftName: String = "group_a", rightName: String = "group_b"): DataFrame = {
    val sk = graft.operators.Checkpoints.eager(
      df.select(group.as("__g"),
          graft.functions.Hashing.portableHash64(text).as("h"))
        .groupBy("__g").agg(kmv(col("h"), k).as("sk"))
        .select(col("__g"), col("sk"), kmvDistinctEstimate(col("sk"), k).as("est")))
    val a = sk.select(col("__g").as(leftName), col("sk").as("ska"), col("est").as("est_a"))
    val b = sk.select(col("__g").as(rightName), col("sk").as("skb"), col("est").as("est_b"))
    a.join(b, col(leftName) < col(rightName))
      .select(col(leftName) +: col(rightName) +:
        kmvSetAlgebra(col("ska"), col("skb"), k) :+
        col("est_a") :+ col("est_b"): _*)
  }
}
