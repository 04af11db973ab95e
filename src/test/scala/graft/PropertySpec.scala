package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Randomized-input checks (seeded, deterministic): the native/custom
  * implementations must agree with their reference formulations across
  * many generated cases, not just hand-picked ones. */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def randomText(rnd: scala.util.Random): String = {
    val vocab = Seq("abc", "Mixed-CASE", "añó", "zz9", "", "Q", "the", "x-y_z")
    val seps = Seq(" ", "  ", "\t", " \n ")
    val n = rnd.nextInt(13)
    (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)) + seps(rnd.nextInt(seps.size))).mkString
  }

  test("WordShingles equals the HOF formulation on randomized messy text") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val texts = Seq.fill(60)(randomText(rnd))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val toks = split(trim(lower(col("t"))), "\\s+")
      val hof = when(size(toks) >= 3,
        transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))
        .otherwise(array().cast("array<string>"))
      val mismatches = df.select(
          Dedup.shinglesRaw(col("t"), 3).as("native"), hof.as("ref"))
        .filter(not(col("native") <=> col("ref")))
        .count()
      assert(mismatches === 0L, s"seed=$seed")
    }
  }

  test("HashedBow equals the explode+groupBy formulation on randomized messy text") {
    // unicode vocab, uneven whitespace, empty docs — the native
    // accumulation must bit-match the md5-bucket/sign reference
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val dim = Seq(8, 32, 64)(rnd.nextInt(3))
      val texts = Seq.fill(50)(randomText(rnd))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      def bucket(c: org.apache.spark.sql.Column) =
        pmod(conv(substring(md5(c), 1, 7), 16, 10).cast("long"), lit(dim.toLong))
      def sgn(c: org.apache.spark.sql.Column) =
        when(pmod(conv(substring(md5(c), 8, 1), 16, 10).cast("long"), lit(2L)) === 1, 1L)
          .otherwise(-1L)
      val composed = df
        .select(col("id"), explode(split(trim(lower(col("t"))), "\\s+")).as("tok"))
        .groupBy(col("id"), bucket(col("tok")).as("pos"))
        .agg(sum(sgn(col("tok"))).as("v"))
        .filter(col("v") =!= 0)
      val native = df
        .select(col("id"),
          posexplode(graft.text.HashEmbed.hashedBow(col("t"), dim)).as(Seq("pos", "v")))
        .filter(col("v") =!= 0)
      assert(native.exceptAll(composed).count() === 0L, s"seed=$seed dim=$dim")
      assert(composed.exceptAll(native).count() === 0L, s"seed=$seed dim=$dim")
    }
  }

  test("GroupTopK equals window row_number on randomized groups and k") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val k = 1 + rnd.nextInt(6)
      val groups = 1 + rnd.nextInt(8)
      val df = Seq.fill(300)((rnd.nextInt(groups).toLong, rnd.nextInt(40).toLong))
        .zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "id").repartition(7)
      val custom = org.apache.spark.sql.graft.GraftPlans
        .groupTopK(df, Seq(col("g")), Seq(col("v").desc, col("id").asc), k)
        .select("g", "v", "id").as[(Long, Long, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val ref = df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
        .select("g", "v", "id").as[(Long, Long, Long)].collect().toSet
      assert(custom === ref, s"seed=$seed k=$k")
    }
  }

  test("asofJoin equals a per-key scan on randomized event times (with ts ties)") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val left = Seq.fill(60)((rnd.nextInt(5).toLong, rnd.nextInt(30).toLong))
        .zipWithIndex.map { case ((kk, t), i) => (kk, t, i.toLong) }
      val right = Seq.fill(40)((rnd.nextInt(5).toLong, rnd.nextInt(30).toLong))
        .zipWithIndex.map { case ((kk, t), i) => (kk, t, i.toLong + 1000) }
      val out = graft.operators.TemporalJoins
        .asofJoin(left.toDF("k", "ts", "lid"), right.toDF("k", "rts", "rid"),
          "k", col("ts"), col("rts"), Seq("rid"))
        .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
      // reference: per left row, the max-(rts, rid) right row at-or-before
      val expected = left.map { case (k, ts, lid) =>
        val cands = right.filter(r => r._1 == k && r._2 <= ts)
        lid -> (if (cands.isEmpty) None else Some(cands.maxBy(r => (r._2, r._3))._3))
      }.toMap
      assert(out === expected, s"seed=$seed")
    }
  }

  test("CharShingles equals the sequence+substring formulation on messy text") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed + 100)
      val texts = Seq.fill(60)(randomText(rnd)) ++
        Seq("", " ", "ab", "ÄÖÜ βγδ ÄÖ", "a\tb\nc")
      val n = 2 + rnd.nextInt(3)
      val df = texts.toDF("t")
      val native = df.select(
        org.apache.spark.sql.graft.GraftTextFunctions.charShingles(col("t"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      val ref = df.select(lower(col("t")).as("__t"))
        .select(when(length(col("__t")) >= n,
          expr(s"transform(sequence(1, length(__t) - ${n - 1}), i -> substring(__t, i, $n))"))
          .otherwise(expr("array()")).as("g"))
        .as[Seq[String]].collect().toSeq
      assert(native === ref, s"seed=$seed n=$n")
    }
  }

  test("skyline2D equals brute-force dominance on randomized points") {
    import graft.operators.Relational._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val pts = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val df = pts.toDF("x", "y").repartition(9)
      val got = df.skyline2D(col("x"), col("y")).as[(Long, Long)].collect().toSet
      val ps = pts.distinct
      val expected = ps.filter { case (x, y) =>
        !ps.exists { case (a, b) => a <= x && b <= y && (a < x || b < y) }
      }.toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("CC paths agree on random graphs: local, propagation and star loops") {
    import graft.dedup.Components
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("a", "b").repartition(5)
      // localThreshold = 0 forces the DISTRIBUTED loops — the code
      // that runs on an above-threshold 100 TB pair graph; the default
      // takes the single-task union-find. All three must agree.
      val star = Components.connectedComponentsStar(df, "a", "b", localThreshold = 0L)
        .as[(Long, Long)].collect().toSet
      val prop = Components.connectedComponents(df, "a", "b", localThreshold = 0L)
        .select(col("id"), col("cluster_id")).as[(Long, Long)].collect().toSet
      val local = Components.connectedComponents(df, "a", "b")
        .select(col("id"), col("cluster_id")).as[(Long, Long)].collect().toSet
      assert(star === prop, s"seed=$seed")
      assert(local === prop, s"seed=$seed")
    }
  }

  test("pathKGrams totals match the k-successor row count on random streams") {
    import graft.operators.Timeseries._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 150).map(i =>
        (rnd.nextInt(6).toLong, i.toLong, s"s${rnd.nextInt(4)}"))
      val df = rows.toDF("k", "t", "s").repartition(7)
      val k = 2 + rnd.nextInt(3)
      val total = df.pathKGrams(col("k"), Seq(col("t")), col("s"), k)
        .agg(sum("n")).as[Long].head()
      // every row with ≥ k−1 successors in its key starts exactly one path
      val expected = rows.groupBy(_._1).values.map(g => math.max(0, g.size - (k - 1))).sum
      assert(total === expected, s"seed=$seed k=$k")
    }
  }

  test("Count-Min never underestimates and cmsFrequencyGate is exact on random skew") {
    import graft.sketch.Sketches
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // zipf-ish skew: key k appears ~ 2000/(k+1) times
      val keys = (0 until 40).flatMap(k => Seq.fill(2000 / (k + 1))(k.toLong))
      val shuffled = rnd.shuffle(keys)
      val df = shuffled.toDF("k").repartition(1 + rnd.nextInt(16))
      val exact = shuffled.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val sk = df.agg(Sketches.cms(xxhash64(col("k")), d = 4, w = 512).as("s"))
        .select(col("s.table").as("t"))
      val est = exact.keys.toSeq.toDF("k").crossJoin(sk)
        .select(col("k"), Sketches.cmsEstimate(col("t"), xxhash64(col("k")), 4, 512).as("e"))
        .as[(Long, Long)].collect().toMap
      exact.foreach { case (k, c) =>
        assert(est(k) >= c, s"seed=$seed key=$k underestimated: ${est(k)} < $c")
      }
      val thr = 100L
      val gate = Sketches.cmsFrequencyGate(df, col("k"), minCount = thr, d = 4, w = 512)
        .as[(Long, Long)].collect().toMap
      assert(gate === exact.filter(_._2 >= thr), s"seed=$seed")
    }
  }

  test("native SimHash60 equals the explode+bit-sum aggregate formulation") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val texts = Seq.fill(60)(randomText(rnd)).filter(_ != null)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
      val native = Dedup.simhash(df, col("t"), col("doc_id"))
        .as[(Long, Long)].collect().toMap
      // the pre-native formulation, inlined as the reference
      val tok = df.select(col("doc_id"), explode(Dedup.tokens(col("t"))).as("tk"))
        .withColumn("h", Dedup.portableTokenHash(col("tk")))
      val bitSums = (0 until Dedup.SimHashBits)
        .map(j => sum(shiftright(col("h"), j).bitwiseAND(1)).as(s"b$j"))
      val agg = tok.groupBy("doc_id").agg(count(lit(1)).as("n"), bitSums: _*)
      val fp = (0 until Dedup.SimHashBits)
        .map(j => when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      val ref = agg.select(col("doc_id"), fp.cast("long")).as[(Long, Long)].collect().toMap
      assert(native === ref, s"seed=$seed")
    }
  }

  test("minhashNovel equals the cross-pair complement on random corpora") {
    // novel(corpus, batch) must be exactly the batch docs with NO
    // candidate pair reaching into the corpus — the operator's
    // contract restated through minhashCandidatePairs on the union
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      def doc(): String = Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val corpusDocs = (0L until 15L).map(i => (i, doc()))
      // batch: some fresh docs, some verbatim copies of corpus docs
      val batchDocs = (100L until 110L).map { i =>
        if (rnd.nextBoolean()) (i, corpusDocs(rnd.nextInt(corpusDocs.size))._2) else (i, doc())
      }
      val corpus = corpusDocs.toDF("doc_id", "text")
      val batch = batchDocs.toDF("doc_id", "text")
      val novel = Dedup.minhashNovel(corpus, batch, col("text"), col("doc_id"))
        .select("doc_id").as[Long].collect().toSet
      val crossDups = Dedup
        .minhashCandidatePairs(corpus.unionByName(batch), col("text"), col("doc_id"))
        .as[(Long, Long)].collect()
        .collect { case (a, b) if a < 100L && b >= 100L => b }
        .toSet
      assert(novel === batchDocs.map(_._1).toSet -- crossDups, s"seed=$seed")
    }
  }

  test("minhashClusterEdges components equal the candidate-pair components on random corpora") {
    // the star edges must span exactly the all-pairs graph: same nodes,
    // same components, row for row — under null ids, repeated ids, null
    // texts and texts too short to shingle, for both hash families
    import graft.dedup.Components
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    var starSmaller = false
    for (seed <- 1 to 3; portable <- Seq(false, true)) {
      val rnd = new scala.util.Random(seed)
      def text(): Option[String] = rnd.nextInt(10) match {
        case 0 => None
        case 1 => Some(vocab(rnd.nextInt(vocab.length)) + " " + vocab(rnd.nextInt(vocab.length)))
        case _ => Some(Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val docs = (0 until 60).map { i =>
        val id = rnd.nextInt(10) match {
          case 0 => None
          case 1 => Some(100L + rnd.nextInt(i + 1)) // an earlier doc's id (or its own)
          case _ => Some(100L + i)
        }
        (id, text())
      }.toDF("doc_id", "text")
      val edges = Dedup.minhashClusterEdges(docs, col("text"), col("doc_id"), portable = portable)
      val pairs = Dedup.minhashCandidatePairs(docs, col("text"), col("doc_id"), portable = portable)
      def comps(e: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        Components.connectedComponents(e, "doc_a", "doc_b").as[(Long, Long)].collect().sorted.toSeq
      val ctx = s"seed=$seed portable=$portable"
      val (es, ps) = (edges.as[(Long, Long)].collect(), pairs.as[(Long, Long)].collect().toSet)
      assert(ps.nonEmpty, ctx)
      assert(comps(edges) === comps(pairs), ctx)
      // every star edge is a candidate pair, so doc_a < doc_b holds too
      assert(es.forall(ps.contains), ctx)
      starSmaller ||= es.length < ps.size
      graft.operators.Checkpoints.releaseAll()
    }
    assert(starSmaller, "no corpus had a bucket of three or more docs")
  }

  test("sortedNeighborhoodPairs equals brute force on random keys, sizes and windows") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(120)
      val window = 2 + rnd.nextInt(6)
      // duplicate-heavy keys: ties must resolve through the doc_id tiebreak
      val rows = (0L until n.toLong).map(i => (i, s"k${rnd.nextInt(8)}"))
      val df = rows.toDF("doc_id", "text").repartition(1 + rnd.nextInt(8))
      val got = Dedup.sortedNeighborhoodPairs(df, col("doc_id"), col("text"), window)
        .select("doc_a", "doc_b", "rank_dist").as[(Long, Long, Long)].collect()
      assert(got.length === got.distinct.length, s"seed=$seed: duplicate pairs")
      val ranked = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
      val expected = (for {
        i <- ranked.indices; d <- 1 until window if i + d < ranked.length
      } yield (ranked(i), ranked(i + d), d.toLong)).toSet
      assert(got.toSet === expected, s"seed=$seed n=$n window=$window")
    }
  }

  test("ngramJaccard/containment pairs equal driver-side exact set math on random docs") {
    // guards the r8 fingerprint plan: the gram exchanges key on
    // two-lane xxhash fingerprints, so this asserts the fingerprinted
    // grouping still computes the EXACT |A∩B| / set sizes a literal
    // gram-set computation produces (small vocab forces heavy overlap)
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(100 + seed)
      val vocab = Seq("a", "b", "c", "d", "e")
      val docs = (0L until (8 + rnd.nextInt(10)).toLong).map { i =>
        val n = 4 + rnd.nextInt(8)
        (i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text").repartition(1 + rnd.nextInt(6))
      def gramSet(t: String): Set[String] = {
        val ts = t.trim.toLowerCase.split("\\s+").toSeq
        ts.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSet
      }
      val sets = docs.map { case (id, t) => id -> gramSet(t) }.toMap
      val expected = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
        i = (sa & sb).size if i > 0
        j = i.toDouble / (sa.size + sb.size - i) if j >= 0.3
      } yield (a, b, j)).toSet
      val got = Dedup.ngramJaccardPairs(df, col("text"), col("doc_id"), n = 2, tau = 0.3,
          maxDocFreq = graft.dedup.DocFreqCap.Unbounded)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === expected, s"seed=$seed")
      val expectedCont = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
        i = (sa & sb).size if i > 0
        c = i.toDouble / math.min(sa.size, sb.size) if c >= 0.6
      } yield (a, b, c)).toSet
      val gotCont = Dedup.containmentPairs(df, col("text"), col("doc_id"), n = 2, tau = 0.6,
          maxDocFreq = graft.dedup.DocFreqCap.Unbounded)
        .as[(Long, Long, Double)].collect().toSet
      assert(gotCont === expectedCont, s"seed=$seed (containment)")
    }
  }

  test("BoundedMaxHeap keeps exactly the k smallest rows under any ordering") {
    // direct randomized check of the GroupTopK partial-phase heap
    // against sort-take-k, including duplicate keys and k > n
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val ord: Ordering[InternalRow] = Ordering.by((r: InternalRow) => r.getLong(0))
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      val n = rnd.nextInt(200)
      val k = 1 + rnd.nextInt(12)
      val values = Seq.fill(n)(rnd.nextInt(40).toLong) // dense → duplicates
      val heap = new org.apache.spark.sql.graft.BoundedMaxHeap(k, ord)
      val reused = new GenericInternalRow(1) // simulate iterator row reuse
      values.foreach { v =>
        reused.update(0, v)
        heap.offer(reused)
      }
      val kept = heap.iterator.map(_.getLong(0)).toSeq.sorted
      assert(kept === values.sorted.take(k), s"seed=$seed k=$k")
    }
  }

  test("native AHash64 equals a direct replay on random binary payloads") {
    // reference: the documented sampling rule computed in plain Scala
    def ref(bytes: Array[Byte]): String = {
      val v = (0 until 64).map(i => bytes(((i.toLong * bytes.length) / 64).toInt) & 0xff)
      val t = v.map(_.toLong).sum
      v.map(x => if (x.toLong * 64 > t) '1' else '0').mkString
    }
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val payloads = Seq.fill(50)(Array.fill(1 + rnd.nextInt(300))(rnd.nextInt(256).toByte))
      val df = payloads.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "m")
      val got = graft.multimodal.Multimodal.aHash(df, col("m"), col("id"))
        .as[(Long, String)].collect().toMap
      payloads.zipWithIndex.foreach { case (b, i) =>
        assert(got(i.toLong) === ref(b), s"seed=$seed payload=$i len=${b.length}")
      }
    }
  }

  test("WinnowHashes equals a code-point replay on random unicode text") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // BMP-only vocab (1–3 byte UTF-8; one UTF-16 unit each) so a Java
    // String replay walks the same code points as UTF8String
    val chars = "ab zñé日本語テキλΩ9-"
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val k = 2 + rnd.nextInt(4)
      val w = 1 + rnd.nextInt(5)
      val texts = Seq.fill(30)((0 until rnd.nextInt(40)).map(_ => chars(rnd.nextInt(chars.length))).mkString)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val got = df.select(col("id"),
          org.apache.spark.sql.graft.GraftTextFunctions.winnowHashes(col("t"), k, w))
        .as[(Long, Seq[Long])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val lower = t.toLowerCase
        val expect = if (lower.length < k) Seq.empty[Long] else {
          val hs = (0 to lower.length - k)
            .map(p => java.lang.Long.parseLong(md5hex(lower.substring(p, p + k)).take(15), 16))
          hs.indices.collect {
            case p if hs(p) == (math.max(0, p - w + 1) to p).map(hs).min => hs(p)
          }.distinct
        }
        assert(got(i.toLong) === expect, s"seed=$seed text=$i k=$k w=$w")
      }
    }
  }

  test("packSequences equals a sequential replay on random docs, budgets and shards") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val budget = 3L + rnd.nextInt(20)
      val nShards = 1 + rnd.nextInt(4)
      val docs = (0L until 120L).map { i =>
        val n = 1 + rnd.nextInt(9)
        (i, i % nShards, (0 until n).map(j => s"w${i}_$j").mkString(" "))
      }
      val df = docs.toDF("id", "shard", "txt")
      val got = graft.text.TextPrep.packSequences(df.repartition(5), col("shard"),
          Seq(col("id")), col("txt"),
          graft.text.TextAnalysis.tokenCount(col("txt")), budget, sep = "\n")
        .select("shard", "batch_id", "n_docs", "n_tokens", "packed_text")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      // sequential replay: walk each shard in id order, batch = the
      // budget window the doc STARTS in (straddlers stay whole)
      val expect = docs.groupBy(_._2).flatMap { case (shard, members) =>
        var cum = 0L
        members.sortBy(_._1).map { case (_, _, txt) =>
          val n = txt.split(" ").length.toLong
          val batch = cum / budget
          cum += n
          (shard, batch, txt, n)
        }.groupBy(_._2).map { case (batch, rows) =>
          (shard, batch, rows.size.toLong, rows.map(_._4).sum, rows.map(_._3).mkString("\n"))
        }
      }.toSet
      assert(got === expect, s"seed=$seed budget=$budget shards=$nShards")
    }
  }

  test("phraseOccurrences equals brute force on randomized docs and phrases") {
    import spark.implicits._
    val vocab = Array("aa", "bb", "cc", "dd")
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(200 + seed)
      // tiny alphabet → dense repeats and overlaps, the adversarial case
      val docs = (1L to 30L).map(i =>
        i -> Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      // phrases: random substrings of random docs (guaranteed present
      // somewhere) + one random combination (possibly absent)
      val phrases = ((1 to 4).map { _ =>
        val t = docs(rnd.nextInt(docs.size))._2.split(" ")
        val len = 1 + rnd.nextInt(math.min(3, t.length))
        val p = rnd.nextInt(t.length - len + 1)
        t.slice(p, p + len).mkString(" ")
      } :+ Seq.fill(4)(vocab(rnd.nextInt(vocab.length))).mkString(" ")).distinct
      val got = graft.text.Search.phraseOccurrences(
          docs.toDF("doc_id", "text"), col("text"), col("doc_id"),
          phrases.toDF("phrase"), col("phrase"), col("phrase"))
        .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val expect = (for {
        (id, text) <- docs
        ph <- phrases
        pt = ph.split(" ")
        toks = text.split(" ")
        c = (0 to toks.length - pt.length)
          .count(p => toks.slice(p, p + pt.length).sameElements(pt))
        if c > 0
      } yield (ph, id) -> c.toLong).toMap
      assert(got === expect, s"seed=$seed phrases=$phrases")
    }
  }

  test("Checkpoints registry: release is idempotent and releaseAll drains") {
    import graft.operators.Checkpoints
    Checkpoints.releaseAll()
    val df = spark.range(100).toDF("id")
    val a = Checkpoints.eager(df)
    val b = Checkpoints.eager(df.withColumn("x", col("id") * 2))
    assert(Checkpoints.pendingCount === 2)
    Checkpoints.release(a)
    Checkpoints.release(a) // double release: no-op
    Checkpoints.release(df) // never checkpointed: no-op
    assert(Checkpoints.pendingCount === 1)
    assert(b.count() === 100) // untouched checkpoint still serves reads
    assert(Checkpoints.releaseAll() === 1)
    assert(Checkpoints.pendingCount === 0)
    assert(Checkpoints.releaseAll() === 0) // drained registry stays drained
  }
}
