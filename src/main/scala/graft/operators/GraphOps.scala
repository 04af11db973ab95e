package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames. Complements the
  * connected-components family in [[graft.dedup.Components]] with
  * importance scoring — e.g. ranking domains in a crawl graph when
  * weighting training-data sources.
  *
  * All arithmetic is scaled-integer (`div`, floor) so scores are
  * bit-identical across engines, shuffle orders, and partitionings —
  * the same determinism discipline as the rest of the library (double
  * accumulation would be order-dependent).
  */
object GraphOps {

  /** PageRank with a fixed iteration count over directed `(src, dst)`
    * edges, in scaled-integer arithmetic (initial mass `scale`,
    * damping 0.85). Dangling-node mass is NOT redistributed (it decays
    * — the deterministic simple variant); ranks are comparable, not a
    * probability distribution. Returns (id, pr).
    *
    * Plan shape per iteration: edges join degrees join ranks on `src`
    * (all hash-partitioned on src — one co-partitioned join chain),
    * then a hash aggregate on `dst` (one shuffle), then a left join
    * back to the node list. `localCheckpoint` truncates lineage so the
    * plan stays flat across iterations. Degrees and the node list are
    * computed once. At 1000-executor scale the edge relation dominates
    * and stays partitioned by src throughout; rank/degree relations
    * are node-sized.
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame =
    rank(edges, None, iters, scale)

  /** Personalized PageRank / TrustRank (Gyöngyi, Garcia-Molina &
    * Pedersen 2004): the teleport mass lands ONLY on a trusted seed
    * set, so rank measures proximity to the seeds — the web-spam /
    * crawl-quality algorithm: seed a registry of known-good domains,
    * propagate trust along links, read low scores as spam risk. Same
    * fixed-iteration scaled-integer discipline as [[pageRank]]
    * (initial mass scale/|seeds| on the seeds, 0 elsewhere; per round
    * v gets seed(v)·(15·base) div 100 + 85% of incoming), so the
    * oracle replays the chain bit-for-bit. `seeds` is a 1-column
    * (`id`) relation; seeds absent from the graph are ignored.
    * Plan shape per iteration identical to [[pageRank]]; the seed
    * flag rides the node list (one extra node-sized left join at
    * build time, nothing per-iteration). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame =
    rank(edges, Some(seeds), iters, scale)

  /** The one rank loop. Every node carries a `seed` flag — 1 for all
    * nodes without `seeds` (plain PageRank: seed·tele = tele, and the
    * flag sum is the node count), 1 on the seeds otherwise — and the
    * initial mass scale/Σseed and teleport (15·base) div 100 land on
    * seed·mass, so both variants replay their oracle chains exactly. */
  private def rank(edges: DataFrame, seeds: Option[DataFrame], iters: Int,
      scale: Long): DataFrame = {
    require(iters >= 0)
    val n = edges.sparkSession.sessionState.conf.numShufflePartitions
    // loop-invariant: each distinct edge annotated with its source's
    // out-degree once, so iterations only join the rank relation and
    // aggregate. The repartition below the dedup is the ONLY exchange
    // of this build (khopReach's shape): it satisfies both the
    // distinct's and the degree window's clustering, and the claim
    // carries hash(src) through the checkpoint so no per-round join
    // ever re-exchanges the edge relation (guide §2.4)
    val ed = Checkpoints.eager(
      edges.select(col("src"), col("dst")).repartition(n, col("src")).distinct()
        .withColumn("d", count(lit(1)).over(Window.partitionBy("src"))),
      Seq("src"))
    val ids = ed.select(col("src").as("id")).union(ed.select(col("dst").as("id"))).distinct()
    val flagged = seeds match {
      case None => ids.withColumn("seed", lit(1L))
      case Some(s) =>
        ids.join(s.select(col("id")).distinct().withColumn("__s", lit(1L)), Seq("id"), "left")
          .select(col("id"), coalesce(col("__s"), lit(0L)).as("seed"))
    }
    // claimed on id (one extra NODE-sized exchange, paid once): the
    // per-round left join back to the node list re-uses this layout
    // instead of re-exchanging the node list every round; the seed
    // mass rides the checkpoint's own materializing job
    val (nodes, mass) = Checkpoints.eagerSum(flagged.repartition(n, col("id")), "seed", Seq("id"))
    require(mass > 0, if (seeds.isEmpty) "graph has no nodes" else "no seed appears in the graph")
    val base = scale / mass           // floor — mirrors integer // in the oracle
    val tele = (15L * base) / 100L

    var pr = nodes.select(col("id"), (col("seed") * base).as("pr"))
    var prCkpt: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = ed
        .join(pr.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("pr div d").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      pr = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (col("seed") * tele + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
      // no convergence check reads pr mid-loop, so iterations stack
      // into one plan (depth is linear in iters) and run as a single
      // job; cut lineage only every few rounds to keep deep iteration
      // counts plannable without forcing a materialization per round
      if (i % 4 == 0 && i < iters) {
        pr = Checkpoints.eager(pr)
        if (prCkpt != null) Checkpoints.release(prCkpt) // superseded cut
        prCkpt = pr
      }
    }
    pr
  }

  /** k-hop reachability profile (BFS frontier growth) from a seed
    * set: per hop, the newly-reached frontier size and the cumulative
    * reached count — the coverage/saturation question behind seed
    * expansion ("how much of the graph do k link-hops from the
    * trusted registry cover", the breadth complement of
    * [[personalizedPageRank]]'s weighting). Fixed hop count, so the
    * whole profile is one declarative plan: per hop one
    * co-partitioned edge⋈frontier join, a distinct, and an anti-join
    * against the reached set; frontier/reached relations checkpoint
    * per hop (node-sized), the edge relation never re-shuffles.
    * Returns (hop, frontier_n, reached_n) with hop 0 = the seeds
    * present in the graph. */
  def khopReach(edges: DataFrame, seeds: DataFrame, hops: Int): DataFrame = {
    require(hops >= 0)
    // claimed on src (the per-hop frontier join's key): the edge
    // relation is exchanged once here and never inside the hop loop.
    // Repartition below the dedup — one exchange for the whole build
    val e = Checkpoints.eager(
      edges.select(col("src"), col("dst"))
        .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions, col("src"))
        .distinct(), Seq("src"))
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
    // every per-hop frontier is checkpointed (materialized), so the
    // hop profile is plain driver arithmetic over their counts — a
    // cheap lineage-free count per hop instead of a 2-aggregate ×
    // crossJoin plan per hop (round 15 measured the stats subtree at
    // ~2/3 of this operator's 37 jobs). Each count rides its
    // frontier's own materializing job (eagerCount — one job per hop,
    // not two). Frontiers are DISJOINT by the anti-join, so reached_n
    // is the running sum of frontier counts — the union'd reached
    // frame below stays what the anti-join reads.
    var (frontier, f0) = Checkpoints.eagerCount(
      nodes.join(seeds.select(col("id")).distinct(), Seq("id"), "left_semi"))
    val hopCounts = scala.collection.mutable.ArrayBuffer(f0)
    var reached = frontier
    for (i <- 1 to hops) {
      val (next, fn) = Checkpoints.eagerCount(
        e.join(frontier.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id")).distinct()
          .join(reached, Seq("id"), "left_anti"))
      hopCounts += fn
      // reached is only ever read through the anti-join; a union of
      // ≤ hops checkpoint scans keeps the plan flat without paying a
      // materialization job per hop
      reached = reached.union(next)
      frontier = next
    }
    val spark = edges.sparkSession
    val rows = hopCounts.toSeq.zipWithIndex.map { case (f, h) =>
      (h.toLong, f, hopCounts.take(h + 1).sum)
    }
    import spark.implicits._
    rows.toDF("hop", "frontier_n", "reached_n")
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * arXiv:0709.2938) made deterministic: labels start as node ids,
    * and each round every node adopts the MOST FREQUENT label among
    * its neighbors (undirected; parallel edges collapse, self-loops
    * dropped), ties to the smallest label. Fixed `iters` synchronous
    * rounds — round t reads only round t−1's labels — so the oracle
    * replays the rounds as a CTE chain bit-for-bit, unlike the
    * paper's asynchronous random-order variant (which is neither
    * deterministic nor engine-portable). The near-linear community
    * detector for "which sourcing/interaction clusters exist" at a
    * scale where modularity solvers don't run.
    *
    * Scale shape per round: ONE (node, label) count aggregate over
    * the symmetrized edge⋈label join + the bounded [[GroupTopK]]
    * argmax (count desc, label asc) — label frames are node-sized,
    * checkpoint per round, and release when superseded (the
    * [[pageRank]] loop pattern); the symmetrized edge table
    * checkpoints once. Output: (id, label). */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val e0 = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    // claimed on src — the per-round label join's key — so the
    // symmetrized edge table is exchanged ONCE here, never per round
    // (each round moves only the node-sized label relation, §2.4).
    // The repartition sits BELOW the dedup: hash(src) satisfies the
    // distinct's ClusteredDistribution(src, dst), so this build has
    // exactly one exchange, same as the plain distinct had
    val sym = Checkpoints.eager(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions, col("src"))
        .distinct(), Seq("src"))
    // ROUND 1 in closed form: labels start as own ids, so the
    // (dst, label = src) counts over the deduped symmetric edges are
    // all exactly 1 and the top-1 rule (count desc, label asc)
    // degenerates to "min neighbor id". That is ONE map-side-combining
    // min aggregate (node-sized shuffle) instead of the identity label
    // join + edge-sized (dst, label) count fan-out + top-1 — and it
    // subsumes the init-labels distinct too (guide §2.3: aggregate
    // before you shuffle; round-1 label rows were unique, so the
    // partial count combined nothing)
    var labels = Checkpoints.eager(
      sym.groupBy(col("dst").as("id")).agg(min(col("src")).as("label")))
    for (_ <- 2 to iters) {
      // attach each edge's SOURCE label and count per (dst, label):
      // over the symmetric edge set this is the same multiset as
      // counting dst labels per src (every (u,v) has its (v,u) twin),
      // but the join now keys on the claimed layout — no edge
      // exchange inside the loop. The explicit repartition on id
      // BELOW the count aggregate serves BOTH keyed operators of the
      // round: hash(id) satisfies the aggregate's
      // ClusteredDistribution(id, label) AND the top-1's
      // ClusteredDistribution(id), so the round has exactly ONE
      // exchange — previously the (dst, label) count exchange was
      // followed by a second pair-table exchange into the top-1
      // (guide §2.4: operations keyed the same way share an exchange)
      val counts = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
        .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions, col("id"))
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val next = Checkpoints.eager(
        org.apache.spark.sql.graft.GraftPlans
          .groupTopK(counts, Seq(col("id")), Seq(col("__c").desc, col("label").asc), 1)
          .select(col("id"), col("label")))
      Checkpoints.release(labels)
      labels = next
    }
    Checkpoints.release(sym)
    labels
  }

  /** Weighted PageRank: like [[pageRank]] but each `(src, dst, w)`
    * edge carries a positive integer weight and a node's rank splits
    * proportionally — contribution (pr·w) div W_src with W_src the
    * node's total outgoing weight. Multi-edges are pre-summed here so
    * callers can hand raw pair streams. Same fixed-iteration
    * scaled-integer discipline (pr·w ≤ scale·W must fit a long:
    * fine for scale 10^12 and per-edge weights < 10^6 — corpus-level
    * co-occurrence weights beyond that should be pre-bucketed).
    * Plan shape per iteration matches [[pageRank]]: one
    * co-partitioned join chain on src, one aggregate on dst. */
  def pageRankWeighted(edges: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0)
    val e = Checkpoints.eager(
      edges.select(col("src"), col("dst"), col("w"))
        .groupBy("src", "dst").agg(sum("w").as("w")))
    val (nodes, n) = Checkpoints.eagerCount(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
        .repartition(e.sparkSession.sessionState.conf.numShufflePartitions, col("id")), Seq("id"))
    require(n > 0, "graph has no nodes")
    val base = scale / n
    val tele = (15L * base) / 100L
    val ed = Checkpoints.eager(
      e.repartition(e.sparkSession.sessionState.conf.numShufflePartitions, col("src"))
        .withColumn("wsum", sum("w").over(Window.partitionBy("src"))),
      Seq("src"))
    Checkpoints.release(e)

    var pr = nodes.withColumn("pr", lit(base))
    var prCkpt: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = ed
        .join(pr.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("(pr * w) div wsum").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      pr = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(tele) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
      if (i % 4 == 0 && i < iters) {
        pr = Checkpoints.eager(pr)
        if (prCkpt != null) Checkpoints.release(prCkpt)
        prCkpt = pr
      }
    }
    pr
  }

  /** Triangle enumeration over undirected canonical edges (`a` < `b`
    * per row), degree-oriented (Cohen's MapReduce algorithm / the
    * Suri–Vassilvitskii shape): orient every edge from its
    * lower-(degree, id) endpoint, build wedges at each source, close
    * them against the canonical edge list. The orientation makes
    * every out-neighborhood O(√m), so the wedge join — the step that
    * explodes on hub nodes in the naive three-way self-join — stays
    * bounded on power-law graphs; both joins are plain equality hash
    * joins. The (deg, id) order is total, so the oriented graph is a
    * DAG and each triangle closes at exactly ONE wedge — no
    * post-dedup. Returns one row per triangle, nodes ascending. */
  def triangles(pairs: DataFrame, a: String, b: String): DataFrame = {
    // the edge list feeds four consumers (degrees, orientation, wedge
    // self-join, closure) and `pairs` is often itself an expensive
    // pipeline (an LSH band join) — cut lineage once, same discipline
    // as pageRank above; both checkpoints are edge-sized
    val e = Checkpoints.eager(pairs.select(col(a).as("u"), col(b).as("v")).distinct())
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val oriented0 = withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("s"), col("v").as("t")))
        .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // claimed on the wedge key: BOTH sides of the wedge self-join
    // then satisfy the join's distribution from one up-front
    // clustering — the self-join of the oriented edge list (the big
    // fan-out step) runs with no exchange on either side
    val oriented = Checkpoints.eager(
      oriented0.repartition(pairs.sparkSession.sessionState.conf.numShufflePartitions, col("s")),
      Seq("s"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("w0"), col("e1.t").as("w1"), col("e2.t").as("w2"))
    wedges.join(e, col("w1") === col("u") && col("w2") === col("v"))
      .select(
        least(col("w0"), col("w1"), col("w2")).as("t1"),
        (col("w0") + col("w1") + col("w2")
          - least(col("w0"), col("w1"), col("w2"))
          - greatest(col("w0"), col("w1"), col("w2"))).as("t2"),
        greatest(col("w0"), col("w1"), col("w2")).as("t3"))
  }

  /** k-core decomposition (Seidman 1983) by synchronous peeling: drop
    * every node of degree < k, recompute, repeat — the maximal
    * subgraph where everyone keeps ≥ k neighbors, the standard
    * "dense backbone vs periphery" split (spam-farm detection,
    * influence floors). Undirected; parallel edges collapse,
    * self-loops dropped. Peels for at most `maxRounds` SYNCHRONOUS
    * rounds with a fixpoint early-exit; because extra rounds past the
    * fixpoint are no-ops, the output equals an oracle that unrolls
    * exactly `maxRounds` rounds whether or not it converged sooner —
    * the same bounded-unroll contract as labelPropagation. Emits the
    * surviving (id, deg) — every deg ≥ k iff converged.
    *
    * Scale shape: each round is one degree aggregate + two
    * node-keyed semi-joins over the SHRINKING edge frame, lineage cut
    * per round (edge-sized checkpoints, the pageRank discipline);
    * the per-round fixpoint probe is one count on the peeled frame.
    * Rounds needed = peel depth, typically O(10) on real graphs —
    * maxRounds bounds the worst case, and a non-converged run is
    * still exact bounded-peel semantics, never a wrong fixpoint. */
  def kCore(edges: DataFrame, k: Long, maxRounds: Int = 12): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val e0 = Checkpoints.eager(
      edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst")).distinct())
    // each round's surviving edge frame is clustered + claimed on `a`:
    // the next round's degree aggregate AND its first semi-join are
    // keyed on `a`, so neither re-exchanges the edge frame — only the
    // second (b-keyed) semi-join moves edge rows, one exchange per
    // round instead of three (guide §2.4)
    // eagerCount: the round's size check reads off the SAME job that
    // materializes the checkpoint — one driver-synchronous job per
    // round, not two (guide §1.2)
    var (cur, n) = Checkpoints.eagerCount(
      e0.select(col("src").as("a"), col("dst").as("b"))
        .union(e0.select(col("dst").as("a"), col("src").as("b")))
        .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions, col("a"))
        .distinct(), Seq("a"))
    Checkpoints.release(e0)
    var round = 0
    var done = n == 0
    while (round < maxRounds && !done) {
      val keep = cur.groupBy("a").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("a")
      // opportunistic claim: when the semi-joins broadcast `keep`
      // (the common case — it is node-sized), the surviving edges
      // keep cur's hash(a) layout and the claim rides through the
      // checkpoint for free; when a planner picks a b-keyed shuffle
      // instead, the claim simply does not fire
      val (next, m) = Checkpoints.eagerCount(
        cur.join(keep, Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
          .select("a", "b"), Seq("a"))
      Checkpoints.release(cur)
      done = m == n
      n = m
      cur = next
      round += 1
    }
    cur.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
  }
}
