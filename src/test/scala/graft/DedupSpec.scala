package graft

import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, DocFreqCap}

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  private val nearDup = base.replace("warm", "cold") // one token changed
  private val other =
    "completely different content about spark catalyst optimizer plans and shuffle partitions at scale"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, other), (4L, base) // 4 = exact dup of 1
  ).toDF("doc_id", "text")

  test("exactDedupKeyed groups identical payloads, keeps min id") {
    val out = Dedup.exactDedupKeyed(docs, col("text"), col("doc_id"))
      .select("doc_id", "group_n").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("minhash LSH (fast xxhash64 family) finds near-dup candidates") {
    val pairs = Dedup.minhashCandidatePairs(docs, col("text"), col("doc_id"),
        shingleN = 3, numBands = 4, rowsPerBand = 2, portable = false)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc stays out
  }

  test("minhashClusterEdges: a bucket of 200 identical texts is 199 star edges, not C(200,2) pairs") {
    val same = (1L to 200L).map(i => (i, base)).toDF("doc_id", "text")
    val edges = Dedup.minhashClusterEdges(same, col("text"), col("doc_id")).as[(Long, Long)].collect()
    assert(edges.length === 199)
    assert(edges.toSet === (2L to 200L).map(m => (1L, m)).toSet)
    assert(Dedup.minhashCandidatePairs(same, col("text"), col("doc_id")).count() === 19900L)
  }

  test("minhashSignatures fast path is bit-compatible with minhashFast") {
    val sig = Dedup.minhashSignatures(docs, col("text"), col("doc_id"),
        shingleN = 3, numHashes = 4, portable = false)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), (1 to 4).map(i => r.getLong(i))))
    val direct = docs.select(col("doc_id") +:
        (0 until 4).map(s => Dedup.minhashFast(Dedup.shinglesRaw(col("text"), 3), s).as(s"mh$s")): _*)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), (1 to 4).map(i => r.getLong(i))))
    assert(sig.toSeq === direct.toSeq)
  }

  test("ngram Jaccard computes exact similarity") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), n = 3, tau = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 4L)) === 1.0)
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containment flags a short doc embedded in a long one") {
    val emb = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "intro words first alpha beta gamma delta and then a very long tail of unrelated content keeps going")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(emb, col("text"), col("doc_id"), n = 3, tau = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(cont.toList === List((10L, 11L, 1.0))) // all of doc10's grams appear in doc11
    // jaccard misses the same pair at any comparable threshold
    val jac = Dedup.ngramJaccardPairs(emb, col("text"), col("doc_id"), n = 3, tau = 0.5)
      .collect()
    assert(jac.isEmpty)
  }

  test("ngram Jaccard maxDocFreq drops ultra-common grams") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), n = 1, tau = 0.9,
        maxDocFreq = DocFreqCap.Fixed(1))
      .as[(Long, Long, Double)].collect()
    // grams shared by >1 doc are dropped, so no pair can accumulate intersection
    assert(pairs.isEmpty)
  }

  test("DocFreqCap: the relative Auto cap tracks corpus heat; the Fixed default bounds it") {
    // 70 docs sharing one hot unigram ("stop") plus a unique token each.
    // The only candidate gram (df >= 2) is "stop" with df = 70, so the
    // measured mean df is 70 and Auto's cap = max(64, 4·70) = 280 — the
    // hot gram SURVIVES and Auto is byte-identical to Unbounded. This
    // is exactly why Auto is NOT the default (r10 scale-up: Auto ran
    // quadratic on the hot-vocab amplification; Fixed(64) ran flat).
    val hot = spark.range(70).selectExpr("id AS doc_id", "concat('stop u', id) AS text")
    val auto = Dedup.ngramJaccardPairs(hot, col("text"), col("doc_id"), n = 1, tau = 0.3,
      maxDocFreq = DocFreqCap.Auto)
    val unb = Dedup.ngramJaccardPairs(hot, col("text"), col("doc_id"), n = 1, tau = 0.3,
      maxDocFreq = DocFreqCap.Unbounded)
    // every pair shares 1 of 2+2-1=3 grams → jaccard 1/3 ≥ 0.3 → C(70,2) pairs
    assert(unb.count() === 70L * 69 / 2)
    assert(auto.count() === unb.count()) // mean-df cap does not bind here
    // now add enough RARE shared grams (df = 2) to drag mean df to ~2:
    // 200 pair-docs sharing a distinct bigram each → mean df ≈ 2,
    // cap = max(64, 4*mean) = 64 < 70 → the hot gram IS dropped, so
    // pairs connected only through it vanish
    val rare = spark.range(200).selectExpr(
      "(1000 + id * 2) AS doc_id", "concat('r', id, 'a r', id, 'b x', id) AS text")
      .union(spark.range(200).selectExpr(
        "(1001 + id * 2) AS doc_id", "concat('r', id, 'a r', id, 'b y', id) AS text"))
    val mixed = hot.union(rare)
    val autoMixed = Dedup.ngramJaccardPairs(mixed, col("text"), col("doc_id"), n = 1, tau = 0.3,
      maxDocFreq = DocFreqCap.Auto)
    val fixed64 = Dedup.ngramJaccardPairs(mixed, col("text"), col("doc_id"), n = 1, tau = 0.3,
      maxDocFreq = DocFreqCap.Fixed(64))
    assert(autoMixed.collect().toSet === fixed64.collect().toSet)
    val unbMixed = Dedup.ngramJaccardPairs(mixed, col("text"), col("doc_id"), n = 1, tau = 0.3,
      maxDocFreq = DocFreqCap.Unbounded)
    assert(autoMixed.count() < unbMixed.count()) // the hot-gram pairs are gone
    // the DEFAULT is the absolute Fixed(64): on the uniformly-hot
    // corpus (where Auto degenerated to Unbounded) it drops the
    // df=70 gram — the pair sweep is bounded whatever the corpus heat
    val default = Dedup.ngramJaccardPairs(hot, col("text"), col("doc_id"), n = 1, tau = 0.3)
    assert(default.count() === 0L)
    assert(default.collect().toSet === Dedup.ngramJaccardPairs(
      hot, col("text"), col("doc_id"), n = 1, tau = 0.3,
      maxDocFreq = DocFreqCap.Fixed(64)).collect().toSet)
  }

  test("simhash: near-dups have small hamming distance, unrelated large") {
    val fps = Dedup.simhash(docs, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(4L))
    val nearHam = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val farHam = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    assert(nearHam < farHam)
    assert(nearHam <= 10)
  }

  test("simhashPairs blocks by segment and filters by hamming radius") {
    val fps = Dedup.simhash(docs, col("text"), col("doc_id"))
    val pairs = Dedup.simhashPairs(fps, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("editDistancePairs finds near-dups within the radius, skips unrelated") {
    val pairs = Dedup.editDistancePairs(docs, col("text"), col("doc_id"), maxDist = 6)
      .select("doc_a", "doc_b", "dist").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 4L)) === 0L)            // exact dup
    assert(pairs((1L, 2L)) === 4L)            // "warm" -> "cold" is 4 edits
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc out
  }

  test("minhashNovel keeps exactly the batch docs with no corpus band collision") {
    val corpus = Seq((10L, base), (11L, other)).toDF("doc_id", "text")
    val batch = Seq(
      (20L, base),                               // exact dup of corpus 10
      (21L, nearDup),                            // near dup of corpus 10
      (22L, "genuinely novel text with tokens absent from every corpus document entirely")
    ).toDF("doc_id", "text")
    val novel = Dedup.minhashNovel(corpus, batch, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    // brute-force replay: batch doc is dup iff any band key matches a corpus band
    val cb = Dedup.minhashBandKeys(corpus, col("text"), col("doc_id"), 3, 4, 2, portable = false)
      .select("band_id", "band_key").as[(Int, String)].collect().toSet
    val expected = Dedup.minhashBandKeys(batch, col("text"), col("doc_id"), 3, 4, 2, portable = false)
      .as[(Long, Int, String)].collect().toSeq
      .groupBy(_._1).collect { case (id, bands) if !bands.exists(b => cb((b._2, b._3))) => id }
      .toSet
    assert(novel === expected)
    assert(!novel.contains(20L)) // the exact dup can never be novel
    assert(novel.contains(22L))  // disjoint vocabulary shares no shingle, ergo no band
  }

  test("sortedNeighborhoodPairs equals the brute-force rank window") {
    // 60 docs with a skewed key so blocks and partitions both split unevenly
    val df = (0L until 60L).map(i => (i, f"k${(i * 37) % 20}%02d-$i")).toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(df, col("doc_id"), col("text"), window = 4)
      .select("doc_a", "doc_b", "rank_dist").as[(Long, Long, Long)].collect().toSet
    // brute force: rank by (key, id) on the driver, window pairs
    val ranked = df.as[(Long, String)].collect().sortBy { case (id, k) => (k, id) }.map(_._1)
    val expected = (for {
      i <- ranked.indices; d <- 1 to 3 if i + d < ranked.length
    } yield (ranked(i), ranked(i + d), d.toLong)).toSet
    assert(pairs === expected)
    assert(pairs.size === (57 * 3 + 2 + 1)) // n·B - B(B-1)/2 tail truncation
  }

  test("sortedNeighborhoodPairs survives windows wider than a partition") {
    // 10 docs through the 4-partition test session → ~2-3 rows per
    // range partition, so a window of 6 spans 3+ partitions and the
    // boundary stitch must recover multi-partition gaps exactly
    val df = (0L until 10L).map(i => (i, f"x${(i * 7) % 10}%02d")).toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(df, col("doc_id"), col("text"), window = 6)
      .select("doc_a", "doc_b", "rank_dist").as[(Long, Long, Long)].collect()
    assert(pairs.length === pairs.distinct.length) // no pair emitted twice
    val ranked = df.as[(Long, String)].collect().sortBy { case (id, k) => (k, id) }.map(_._1)
    val expected = (for {
      i <- ranked.indices; d <- 1 to 5 if i + d < ranked.length
    } yield (ranked(i), ranked(i + d), d.toLong)).toSet
    assert(pairs.toSet === expected)
  }

  test("globalRank matches a single-partition row_number at any partitioning") {
    import graft.operators.Ordering
    val df = (0L until 1000L).map(i => ((i * 613L) % 1000L, i)).toDF("k", "id")
    val expected = df.as[(Long, Long)].collect().sortBy(identity).map(_._2).zipWithIndex
      .map { case (id, r) => (id, r.toLong) }.toSet
    for (parts <- Seq(1, 7, 32)) {
      val got = Ordering.globalRank(df.repartition(parts), Seq(col("k"), col("id")), "r")
        .select("id", "r").as[(Long, Long)].collect().toSet
      assert(got === expected, s"parts=$parts")
    }
  }

  test("shuffleRank is a seeded permutation: stable per seed, fresh per seed change") {
    import graft.operators.Ordering
    val df = spark.range(500).toDF("id")
    def perm(seed: Long, parts: Int) =
      Ordering.shuffleRank(df.repartition(parts), col("id"), seed)
        .select("id", "shuffle_rank").as[(Long, Long)].collect().toMap
    val p42 = perm(42L, 4)
    // a permutation: ranks are exactly 0..n-1
    assert(p42.values.toSeq.sorted === (0L until 500L))
    // reproducible across partitionings
    assert(perm(42L, 17) === p42)
    // a different seed is a different permutation (not identity-correlated)
    val p7 = perm(7L, 4)
    assert(p7 !== p42)
    // and genuinely shuffled: not the sorted-by-id order
    assert(p42.toSeq.sortBy(_._1).map(_._2) !== (0L until 500L))
  }

  test("connectedComponents labels chains, cliques and crossing components (both paths)") {
    import graft.dedup.Components
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // default threshold = single-task union-find; 0 = forces the
    // distributed min-label propagation loop (the 100 TB fallback)
    for (th <- Seq(Components.LocalEdgeThreshold, 0L)) {
      val out = Components.connectedComponents(pairs, "doc_a", "doc_b", localThreshold = th)
        .as[(Long, Long)].collect().toMap
      assert(out === expected, s"localThreshold=$th")
    }
  }

  test("connectedComponentsBounded refuses a negative edge bound") {
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](
      graft.dedup.Components.connectedComponentsBounded(pairs, "doc_a", "doc_b", maxEdges = -1L))
  }

  test("componentSizes: histogram, member mass and exact shares") {
    import graft.dedup.Components
    // sizes: {1,2,3,4}=4, {10,11,12}=3, {20,21}=2, {30,31}=2 → 11 docs
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L), (30L, 31L)).toDF("doc_a", "doc_b")
    val comps = Components.connectedComponents(pairs, "doc_a", "doc_b")
    val got = Components.componentSizes(comps, col("cluster_id"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(4L) === ((4L, 1L, 4L, 4000L / 11L)))
    assert(got(3L) === ((3L, 1L, 3L, 3000L / 11L)))
    assert(got(2L) === ((2L, 2L, 4L, 4000L / 11L)))
  }

  test("connectedComponentsStar matches propagation and handles long chains (both paths)") {
    import graft.dedup.Components
    // same mixed graph as the propagation test, down the local AND the
    // distributed window-min star loop
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    for (th <- Seq(Components.LocalEdgeThreshold, 0L)) {
      val out = Components.connectedComponentsStar(pairs, "doc_a", "doc_b", localThreshold = th)
        .as[(Long, Long)].collect().toMap
      assert(out === expected, s"localThreshold=$th")
    }

    // adversarial: a 150-node chain (diameter 149) — propagation with
    // default maxIter=20 cannot converge; star contraction does in
    // O(log^2) rounds. localThreshold = 0 forces the DISTRIBUTED
    // contraction loop, the path that actually runs on a 100 TB graph.
    val chain = (0L until 149L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Components.connectedComponentsStar(chain, "doc_a", "doc_b", localThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(labels.length === 150)
    assert(labels.forall(_._2 == 0L))

    // randomized three-way cross-check: local union-find vs the two
    // distributed loops on a low-diameter graph
    val rnd = new scala.util.Random(11)
    val rand = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val local = Components.connectedComponents(rand, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val star = Components.connectedComponentsStar(rand, "doc_a", "doc_b", localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    val prop = Components.connectedComponents(rand, "doc_a", "doc_b", localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(star === prop)
    assert(local === prop)
  }

  test("localThreshold boundary pins which CC path runs, and both agree") {
    import graft.dedup.Components
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b") // 3 edges
    def keyShuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange (hash|range)partitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    // at the boundary (3 edges ≤ 3): local path — a pure RDD scan,
    // zero key shuffles, no loop-state (`lbl`) column in the plan
    val local = Components.connectedComponents(pairs, "doc_a", "doc_b", localThreshold = 3)
    assert(keyShuffles(local) === 0)
    assert(!local.queryExecution.executedPlan.toString.contains("lbl"))
    // one below (3 > 2): the propagation loop — output is the
    // projected `lbl` column of the checkpointed loop state
    val dist = Components.connectedComponents(pairs, "doc_a", "doc_b", localThreshold = 2)
    assert(dist.queryExecution.executedPlan.toString.contains("lbl"))
    assert(local.as[(Long, Long)].collect().toMap === dist.as[(Long, Long)].collect().toMap)
    // star: local branch is a pure scan; the distributed branch
    // resolves roots through a join (shuffles > 0)
    val sLocal = Components.connectedComponentsStar(pairs, "doc_a", "doc_b", localThreshold = 3)
    assert(keyShuffles(sLocal) === 0)
    val sDist = Components.connectedComponentsStar(pairs, "doc_a", "doc_b", localThreshold = 2)
    assert(keyShuffles(sDist) > 0)
    assert(sLocal.as[(Long, Long)].collect().toMap === sDist.as[(Long, Long)].collect().toMap)
  }

  test("CC id ordering matches Spark binary order for strings and binary ids") {
    import graft.dedup.Components
    // U+10000 ("a𐀀") sorts BELOW U+E000 in Java's UTF-16
    // code-unit compareTo but ABOVE it in UTF-8 byte order (Spark's
    // UTF8String) — the local union-find must agree with the
    // distributed least()/min() on which id is the cluster min
    val hi = "a\uD800\uDC00" // U+10000
    val lo = "a\uE000"
    val sPairs = Seq((hi, lo)).toDF("doc_a", "doc_b")
    for (th <- Seq(Components.LocalEdgeThreshold, 0L)) {
      val out = Components.connectedComponents(sPairs, "doc_a", "doc_b", localThreshold = th)
        .as[(String, String)].collect().toMap
      assert(out === Map(hi -> lo, lo -> lo), s"localThreshold=$th")
    }
    // binary ids: 0x80 is negative as a signed byte but must sort
    // ABOVE 0x01 (unsigned order, like Spark); also exercises the
    // ByteBuffer wrapping (raw arrays hash by reference)
    val bPairs = Seq((Array(0x80.toByte), Array(0x01.toByte))).toDF("doc_a", "doc_b")
    for (th <- Seq(Components.LocalEdgeThreshold, 0L)) {
      val out = Components.connectedComponents(bPairs, "doc_a", "doc_b", localThreshold = th)
        .collect()
        .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toMap
      assert(out === Map(
        Seq(0x80.toByte) -> Seq(0x01.toByte),
        Seq(0x01.toByte) -> Seq(0x01.toByte)), s"localThreshold=$th")
    }
  }

  test("keepOnePerCluster keeps min-id per cluster and all singletons") {
    import graft.dedup.Components
    val pairs = Seq((1L, 4L)).toDF("doc_a", "doc_b") // 1 and 4 are dups
    val kept = Components.keepOnePerCluster(docs, col("doc_id"), pairs, "doc_a", "doc_b")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L)) // 4 deduped into 1; 2,3 singleton pass-through
  }

  test("keepBestPerCluster keeps the order-best row, not the min id") {
    import graft.dedup.Components
    val rows = Seq(
      (1L, 10L), (4L, 25L), // cluster {1,4}: 4 is longer -> kept
      (2L, 5L), (3L, 7L)    // singletons pass through
    ).toDF("doc_id", "n_tokens")
    val pairs = Seq((1L, 4L)).toDF("doc_a", "doc_b")
    val kept = Components.keepBestPerCluster(rows, col("doc_id"), pairs, "doc_a", "doc_b",
        Seq(col("n_tokens").desc, col("doc_id").asc))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(4L, 2L, 3L))
  }

  test("keep rules preserve caller columns named id / cluster_id") {
    import graft.dedup.Components
    // drop-by-name removes EVERY matching column — a caller whose own
    // columns are literally named "id"/"cluster_id" must keep them
    val rows = Seq(
      (1L, "a", 9L, 10L), (4L, "b", 8L, 25L),
      (2L, "c", 7L, 5L), (3L, "d", 6L, 7L)
    ).toDF("id", "payload", "cluster_id", "n_tokens")
    val pairs = Seq((1L, 4L)).toDF("doc_a", "doc_b")
    val one = Components.keepOnePerCluster(rows, col("id"), pairs, "doc_a", "doc_b")
    assert(one.columns.toSeq === Seq("id", "payload", "cluster_id", "n_tokens"))
    assert(one.select("id", "cluster_id").as[(Long, Long)].collect().toSet
      === Set((1L, 9L), (2L, 7L), (3L, 6L)))
    val best = Components.keepBestPerCluster(rows, col("id"), pairs, "doc_a", "doc_b",
      Seq(col("n_tokens").desc, col("id").asc))
    assert(best.columns.toSeq === Seq("id", "payload", "cluster_id", "n_tokens"))
    assert(best.select("id", "cluster_id").as[(Long, Long)].collect().toSet
      === Set((4L, 8L), (2L, 7L), (3L, 6L)))
  }

  test("portable token hash matches the documented DuckDB formula") {
    // conv(substr(md5('abc'),1,15),16,10) must equal DuckDB ('0x'||...)::BIGINT = 648541476951500027
    val v = Seq("abc").toDF("t").select(Dedup.portableTokenHash(col("t"))).as[Long].head()
    assert(v === 648541476951500027L)
  }

  test("decontaminate drops exactly the documents flagged against the benchmark") {
    import graft.dedup.Decontam
    val bench = Seq((100L, base)).toDF("bench_id", "text")
    // doc 1 and 4 share all grams with the benchmark; doc 2 shares most
    // (one token changed); doc 3 shares none
    val flagged = Decontam.ngramContamination(
        docs, col("text"), col("doc_id"), bench, col("text"), col("bench_id"),
        n = 3, minHits = 3)
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(flagged === Set((1L, 100L), (2L, 100L), (4L, 100L)))
    val clean = Decontam.decontaminate(
        docs, col("text"), col("doc_id"), bench, col("text"), col("bench_id"),
        n = 3, minHits = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(clean === Set(3L))
    // a stricter threshold than any overlap keeps everything
    val all = Decontam.decontaminate(
        docs, col("text"), col("doc_id"), bench, col("text"), col("bench_id"),
        n = 3, minHits = 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(all === Set(1L, 2L, 3L, 4L))
  }

  test("stopGrams: Auto names exactly what the pair-op cap would drop") {
    import graft.dedup.DocFreqCap
    // 80 docs share one boilerplate trigram (df 80); pair-unique
    // tails add 120 candidate grams at df 2 → mean df = 320 div 121
    // = 2, so Auto = max(64, 8) = 64 and only the hot gram exceeds it
    val docs = (0L until 80L).map(i =>
      (i, s"the same boiler p${i / 2}x p${i / 2}y p${i / 2}z"))
      .toDF("doc_id", "text")
    val auto = Dedup.stopGrams(docs, col("text"), col("doc_id"), n = 3)
      .as[(String, Long, Long, Long)].collect()
    assert(auto.toSeq === Seq(("the same boiler", 80L, 80L * 79L / 2L, 64L)))
    // Fixed cap reports everything above it; Unbounded reports nothing
    val fixed = Dedup.stopGrams(docs, col("text"), col("doc_id"), n = 3,
      cap = DocFreqCap.Fixed(2)).as[(String, Long, Long, Long)].collect()
    assert(fixed.toSeq === Seq(("the same boiler", 80L, 80L * 79L / 2L, 2L)))
    assert(Dedup.stopGrams(docs, col("text"), col("doc_id"), n = 3,
      cap = DocFreqCap.Unbounded).count() === 0L)
  }

  test("overlapScores: multiset ROUGE counts on hand-computed pairs") {
    import graft.dedup.Decontam
    // doc 1 "a b a b a": 2-grams {a b:2, b a:2}, 4 total; bench 100
    // "a b a": {a b:1, b a:1}, 2 total → i = min(2,1)+min(2,1) = 2,
    // recall 1000‰ (bench fully covered), precision 500‰.
    // doc 2 shares only ONE distinct gram → below minHits, excluded.
    val docs = Seq((1L, "a b a b a"), (2L, "a b x y z")).toDF("doc_id", "text")
    val bench = Seq((100L, "a b a")).toDF("bench_id", "text")
    val out = Decontam.overlapScores(
        docs, col("text"), col("doc_id"), bench, col("text"), col("bench_id"),
        n = 2, minHits = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 100L, 2L, 2L, 500L, 1000L)))
    // a doc that IS the benchmark verbatim scores 1000/1000
    val verb = Decontam.overlapScores(
        Seq((7L, "a b a")).toDF("doc_id", "text"), col("text"), col("doc_id"),
        bench, col("text"), col("bench_id"), n = 2, minHits = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(verb.toSeq === Seq((7L, 100L, 2L, 2L, 1000L, 1000L)))
  }

  test("overlapScores cap grades only the top-k most-severe flags per doc; audit enumerates the prune") {
    import graft.dedup.Decontam
    // doc 1 flags against three bench items with DIFFERENT severities:
    // b100 shares 3 distinct 2-grams, b200 shares 2, b300 shares 2
    // (tie with b200 → bench_id breaks it)
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "a b c d"),   // grams {a b, b c, c d} → 3 hits
      (200L, "e f g"),     // {e f, f g} → 2 hits
      (300L, "g h x")      // {g h} → 1 hit
    ).toDF("bench_id", "text")
    def run(cap: Option[Int]) = Decontam.overlapScores(
        docs, col("text"), col("doc_id"), bench, col("text"), col("bench_id"),
        n = 2, minHits = 1, maxPairsPerDoc = cap)
      .select("doc_id", "bench_id", "n_hits").as[(Long, Long, Long)].collect().toSet
    val uncapped = run(None)
    assert(uncapped === Set((1L, 100L, 3L), (1L, 200L, 2L), (1L, 300L, 1L)))
    // cap 2 keeps the two most-severe; a generous cap changes nothing
    assert(run(Some(2)) === Set((1L, 100L, 3L), (1L, 200L, 2L)))
    assert(run(Some(99)) === uncapped)
    // capped rows are BIT-EQUAL to their uncapped counterparts (the
    // cap prunes pairs, never perturbs grading arithmetic)
    val full = Decontam.overlapScores(docs, col("text"), col("doc_id"),
      bench, col("text"), col("bench_id"), n = 2, minHits = 1)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val capped = Decontam.overlapScores(docs, col("text"), col("doc_id"),
      bench, col("text"), col("bench_id"), n = 2, minHits = 1, maxPairsPerDoc = Some(2))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(capped.subsetOf(full) && capped.size === 2)
    // the audit names the doc the cap bound on, with exact counts
    val audit = Decontam.overlapCapAudit(docs, col("text"), col("doc_id"),
      bench, col("text"), col("bench_id"), n = 2, minHits = 1, maxPairsPerDoc = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(audit === Seq((1L, 3L, 2L, 1L)))
    // a cap that never binds audits EMPTY — the capped pass is exact
    assert(Decontam.overlapCapAudit(docs, col("text"), col("doc_id"),
      bench, col("text"), col("bench_id"), n = 2, minHits = 1, maxPairsPerDoc = 3).count() === 0L)
  }

  test("overlapScores above the broadcast bound grades through shuffle joins, bit-equal") {
    import graft.dedup.Decontam
    // a flagged relation "too big to broadcast": 40 docs × 3 bench
    // items all flag (shared gram "q w"), and maxBroadcastPairs = 1
    // forces EVERY graded row through the shuffle-join fallback — the
    // plan the driver-OOM regime takes at scale. Results must be
    // bit-equal to the broadcast path (join strategy never changes
    // rows).
    val docs = (1L to 40L).map(i => (i, s"q w z$i y$i q w x$i"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "q w a"), (200L, "q w b"), (300L, "q w c"))
      .toDF("bench_id", "text")
    def run(bound: Long) = Decontam.overlapScores(
        docs, col("text"), col("doc_id"), bench, col("text"), col("bench_id"),
        n = 2, minHits = 1, maxBroadcastPairs = bound)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val viaBroadcast = run(Long.MaxValue)
    val viaShuffle = run(1L)
    assert(viaShuffle === viaBroadcast)
    assert(viaShuffle.size === 120) // every (doc, bench) pair graded
    // and the fallback really is plan-level: no broadcast of the
    // graded relation (the bench-gram broadcast legitimately stays)
    val plan = Decontam.overlapScores(
        docs, col("text"), col("doc_id"), bench, col("text"), col("bench_id"),
        n = 2, minHits = 1, maxBroadcastPairs = 1L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin LeftSemi"),
      "oversized graded relation must not broadcast the doc-restriction semi-join")
  }

  test("semantic decontamination catches the word-shuffle paraphrase the n-gram screen misses") {
    import graft.dedup.Decontam
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    // doc 1: SAME bag of words, shuffled — shares zero 3-grams with
    // the source (hand-checked), so the gram screen is blind to it;
    // the hashed-BoW embedding is bit-identical → cosine ≈ 1.0
    val corpus = Seq(
      (1L, "dog tonight jumps quick the brown over lazy fox the"),
      (2L, "completely unrelated text about catalyst plans and wide shuffles")
    ).toDF("doc_id", "text")
    val ng = Decontam.ngramContamination(
      corpus, col("text"), col("doc_id"), bench, col("text"), col("doc_id"),
      n = 3, minHits = 1)
    assert(ng.count() === 0L) // the paraphrase passes the gram screen
    val sem = Decontam.semanticContamination(
        corpus, col("text"), col("doc_id"), bench, col("text"), col("doc_id"),
        dim = 64, tau = 0.99)
      .as[(Long, Long, Double)].collect()
    assert(sem.map(r => (r._1, r._2)).toSet === Set((1L, 100L)))
    assert(sem.head._3 > 0.999) // identical integer vectors
    val rep = Decontam.contaminationReport(
        corpus, col("text"), col("doc_id"), bench, col("text"), col("doc_id"),
        n = 3, minHits = 1, dim = 64, tau = 0.99)
      .select("doc_id", "bench_id", "verdict").as[(Long, Long, String)].collect().toSet
    assert(rep === Set((1L, 100L, "semantic_only")))
  }
}
