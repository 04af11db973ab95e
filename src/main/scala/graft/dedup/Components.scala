package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Connected components over near-duplicate pair graphs — the step
  * that turns pairwise dedup candidates into "keep one per cluster"
  * decisions (SURVEY.md §2.3).
  *
  * Min-label propagation: every node starts labeled with its own id;
  * each round takes the min of its label and its neighbors' labels;
  * fixpoint = min id of the component. Rounds needed = graph
  * diameter. Near-dup graphs are overwhelmingly tiny cliques (that is
  * the point of dedup), so convergence is fast; for adversarial
  * long-chain graphs the large-star/small-star contraction family
  * halves the diameter per round and would slot into the same loop.
  *
  * Each round is one shuffle (join on node id + min-aggregate);
  * an eager checkpoint truncates the iterative lineage so the plan
  * doesn't grow with rounds. Superseded rounds' blocks are released
  * immediately; the final one at the caller's next
  * [[graft.operators.Checkpoints.releaseAll]].
  */
object Components {

  /** Edge-count cutoff below which component finding runs as a single
    * executor-side union-find task instead of an iterative shuffle
    * loop. Dedup candidate graphs are SPARSE by construction (LSH
    * emits ~0.1-1% of rows as pairs), so even a 100 TB corpus usually
    * yields a pair graph that fits one task — and a graph under this
    * cutoff is solved faster in one task than by ANY loop, on a
    * laptop or a 1000-executor cluster alike: each star/propagation
    * round costs several cluster-wide stage barriers, while the local
    * path is one narrow job. ~16 MB of raw edge data at the default;
    * the union-find map peaks at ~2e6 boxed entries. Above the
    * cutoff the distributed loops take over — nothing ever collects
    * to the driver on either path. */
  val LocalEdgeThreshold: Long = 1L << 20

  /** Single-task exact union-find over an (u, v) edge list — the
    * small-graph path shared by [[connectedComponents]] and
    * [[connectedComponentsStar]]. Runs as `mapPartitions` over a
    * 1-partition coalesce: executor-side, spill-free (edges stream
    * through; only the node→parent map is held), deterministic.
    * Roots are component minima: union always attaches the larger
    * root under the smaller, so the tree root is the min id by
    * invariant. Emits (id, cluster_id) for every node present in the
    * edge list — a self-loop (u, u) registers u as a singleton, which
    * is how the callers feed isolated nodes through without a
    * label-resolution join.
    *
    * Ordering matches the distributed paths' `min`/`least` exactly:
    * strings compare as UTF-8 bytes (Spark's UTF8String binary order,
    * NOT Java's UTF-16 compareTo — they differ on supplementary
    * characters), binary ids compare as unsigned bytes (wrapped in
    * ByteBuffer for map identity; raw arrays hash by reference).
    * Rows with a null endpoint register the non-null side as a
    * singleton and skip the union — the distributed joins drop null
    * keys the same way. */
  private[graft] def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema.fields(0).dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    val rows = edges.coalesce(1).rdd.mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def wrap(x: Any): Any = x match {
        case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
        case o => o
      }
      def unwrap(x: Any): Any = x match {
        case b: java.nio.ByteBuffer => b.array()
        case o => o
      }
      def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
        var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val c = (a(i) & 0xff) - (b(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        a.length - b.length
      }
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: String, b: String) =>
          cmpBytes(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
        case (a: java.nio.ByteBuffer, b: java.nio.ByteBuffer) =>
          cmpBytes(a.array(), b.array()) < 0
        case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      }
      def find(x0: Any): Any = {
        var x = x0
        var p = parent.get(x)
        while (p != null && p != x) { x = p; p = parent.get(x) }
        // path compression
        var c = x0
        while (c != x) { val n = parent.get(c); parent.put(c, x); c = n }
        x
      }
      def register(x: Any): Unit = if (!parent.containsKey(x)) parent.put(x, x)
      it.foreach { row =>
        val u = if (row.isNullAt(0)) null else wrap(row.get(0))
        val v = if (row.isNullAt(1)) null else wrap(row.get(1))
        if (u != null) register(u)
        if (v != null) register(v)
        if (u != null && v != null) {
          val ru = find(u); val rv = find(v)
          if (ru != rv) {
            if (lt(ru, rv)) parent.put(rv, ru) else parent.put(ru, rv)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      parent.keySet().forEach(k => out += org.apache.spark.sql.Row(unwrap(k), unwrap(find(k))))
      out.iterator
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** [[connectedComponents]] for a caller that already KNOWS an upper
    * bound on the edge count (e.g. it materialized the edge frame and
    * counted it): when the bound fits the local-path threshold, the
    * single-task union-find runs LAZILY over `pairs` — no symmetric
    * checkpoint, no size-probe job — so the component labels fold into
    * whatever job consumes them (guide §1.2: don't pay driver-
    * synchronous jobs for numbers already known). Above the bound it
    * falls back to the standard path. `pairs` must be cheap to
    * re-evaluate (checkpointed, or a narrow derivation of one): the
    * lazy plan may execute more than once. Output is bit-equal to
    * [[connectedComponents]] — the union-find registers both endpoints
    * of every edge, so edge orientation/symmetry never changes the
    * labeling. `maxEdges` is trusted as an UPPER bound: an undercount
    * routes a large graph through the single-task union-find (one
    * straggler task holding every edge), so pass a measured count. */
  private[graft] def connectedComponentsBounded(pairs: DataFrame, a: String, b: String,
      maxEdges: Long, maxIter: Int = 20,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    require(maxEdges >= 0, s"maxEdges must be a non-negative edge-count bound, got $maxEdges")
    if (maxEdges <= localThreshold)
      localComponents(pairs.select(col(a).as("u"), col(b).as("v")))
    else connectedComponents(pairs, a, b, maxIter, localThreshold)
  }

  /** (id, cluster_id) for every node in `pairs`; cluster_id = min
    * node id of the component. Deterministic. Graphs at or under
    * `localThreshold` edges take the single-task union-find path
    * ([[localComponents]]); larger ones run the min-label propagation
    * loop. */
  def connectedComponents(pairs: DataFrame, a: String, b: String, maxIter: Int = 20,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    // the size probe rides the checkpoint's own materializing job
    // (eagerCount) — one job, not eager-then-count. One orientation
    // is checkpointed: the union-find registers both endpoints of
    // every edge, so it needs no symmetric copy
    val (edges, nEdges) = Checkpoints.eagerCount(pairs.select(col(a).as("src"), col(b).as("dst")))
    if (nEdges <= localThreshold) {
      // self-loop-only nodes register as their own singletons
      // in-stream — no label-resolution join, and the local path adds
      // ZERO key shuffles to the downstream plan. Plan stays lazy over
      // the checkpointed edges, which the caller's next query boundary
      // releases like any other operator checkpoint.
      return localComponents(edges.select(col("src").as("u"), col("dst").as("v")))
    }
    // every node appears as a src of the symmetric view (self-loops
    // included), which the propagation loop reads each round
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // labels carry (id, lbl, prev): `prev` is the label the row held
    // BEFORE this round's min — so "did anything change" is a scan of
    // the already-materialized checkpoint, not a next⋈old join (which
    // cost two more exchanges per round)
    var labels = Checkpoints.eager(sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).withColumn("prev", col("id")))
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .select(col("src").as("id"), col("lbl"),
          // typed NULL of lbl's type: neighbor rows carry no own-label
          when(lit(false), col("lbl")).as("own"))
      val next = Checkpoints.eager(
        labels.select(col("id"), col("lbl"), col("lbl").as("own")).unionByName(nbrMin)
          .groupBy("id").agg(min("lbl").as("lbl"), max("own").as("prev")))
      // any graph with an edge needs ≥2 rounds — skip the convergence
      // job until it could plausibly fire
      val changed =
        if (round < 1) 1L
        else next.filter(col("lbl") =!= col("prev")).count()
      Checkpoints.release(labels) // superseded: `next` is materialized
      labels = next
      converged = changed == 0
      round += 1
    }
    Checkpoints.release(edges) // final labels are self-contained blocks
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14 — public paper). Same contract as
    * [[connectedComponents]] but converges in O(log²) rounds on
    * adversarial long-chain / high-diameter graphs where plain
    * min-label propagation needs diameter rounds.
    *
    * Both star steps are single-shuffle window-min passes: partition
    * by the star center, `min(...) over (partition by center)`, emit
    * rewritten edges in the same pass. The r5 join+groupBy shape cost
    * ~5 exchanges per round (groupBy + re-shuffling the edge list into
    * the join, twice over); the window form moves each edge exactly
    * once per star step. A high-degree hub's neighborhood lands in one
    * window group, buffered in Spark's spillable row array — same
    * placement the sort-merge join gave it, degrading to disk rather
    * than memory, and never a `collect_list` heap blob. Convergence is
    * detected by an order-independent (count, xor-of-xxhash64) edge-set
    * signature — one cheap aggregate per round over the checkpointed
    * round output.
    */
  def connectedComponentsStar(pairs: DataFrame, a: String, b: String, maxIter: Int = 30,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    val nodes = Checkpoints.eager(
      pairs.select(col(a).as("id")).union(pairs.select(col(b).as("id"))).distinct())
    // orient (u > v) and dedup; self-loops drop out
    var e = Checkpoints.eager(
      pairs.select(greatest(col(a), col(b)).as("u"), least(col(a), col(b)).as("v"))
        .filter(col("u") =!= col("v")).distinct())

    // large-star(s): attach every neighbor d > s to m = min(Γ(s) ∪ {s}).
    // One shuffle: the per-center min rides a whole-partition window
    // instead of a groupBy + join back (which re-shuffled the edges a
    // second time). No distinct: duplicates only thicken smallStar's
    // input and its terminal distinct canonicalizes.
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("u").as("s"), col("v").as("d"))
        .union(edges.select(col("v").as("s"), col("u").as("d")))
      sym.withColumn("m", least(min("d").over(Window.partitionBy("s")), col("s")))
        .filter(col("d") > col("s"))
        .select(col("d").as("u"), col("m").as("v")) // d > s >= m: stays oriented
    }

    // small-star(u): attach every smaller neighbor (and u itself) to
    // m = min of u's smaller neighborhood. Input must be oriented
    // u > v. Same single-shuffle window shape; each edge row emits its
    // rewritten edge (v, m) plus the center edge (u, m) — the center
    // copies (one per original edge, not one per center) and the
    // v = m self-loops are deduped/dropped by the terminal distinct
    // and filter, which also canonicalizes the round for the edge-set
    // signature.
    def smallStar(edges: DataFrame): DataFrame = {
      val withMin = edges.withColumn("m", min("v").over(Window.partitionBy("u")))
      withMin
        .select(explode(array(
          struct(col("v").as("eu"), col("m").as("ev")),
          struct(col("u").as("eu"), col("m").as("ev")))).as("x"))
        .filter(col("x.eu") =!= col("x.ev")) // drops the v = m rewrite; u > m always holds
        .select(col("x.eu").as("u"), col("x.ev").as("v"))
        .distinct()
    }

    // order-independent edge-set signature; bit_xor never overflows
    // (ANSI sum over hashes would)
    def signature(edges: DataFrame): (Long, Long) = {
      val r = edges.agg(count(lit(1)), call_function("bit_xor", xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // NB: the round-0 signature looks skippable, but near-dup pair
    // graphs are mostly 2-cliques, which are star-stable immediately —
    // sig0 lets the loop converge after ONE contraction; skipping it
    // would buy one cheap aggregate at the price of a second 2-shuffle
    // contraction round in the common case
    var prev = signature(e)
    // sig0's count doubles as the size probe: small graphs skip the
    // contraction loop entirely for the single-task union-find —
    // cheaper than even one round's stage barriers, on any cluster
    if (prev._1 <= localThreshold) {
      // append every node as a self-loop: the union-find registers
      // isolated nodes as singletons in-stream, so its output IS the
      // full labeling — no resolution join, zero added key shuffles
      // (both inputs are checkpointed; union + coalesce are narrow)
      return localComponents(
        e.union(nodes.select(col("id").as("u"), col("id").as("v"))))
    }
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      val eNext = Checkpoints.eager(smallStar(largeStar(e)))
      val cur = signature(eNext)
      Checkpoints.release(e) // superseded round
      e = eNext
      converged = cur == prev
      prev = cur
      round += 1
    }
    // converged: a star per component, every non-root points at the root
    val roots = e.groupBy("u").agg(min("v").as("lbl")).select(col("u").as("id"), col("lbl"))
    nodes.join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** Full dedup decision: every doc keeps exactly one representative —
    * the min id of its near-dup cluster (docs without any near-dup
    * keep themselves). Left join: singleton docs pass through.
    *
    * `pairs` is any edge set whose connected components are the
    * clusters: the all-pairs candidate graph or a spanning subset of
    * it such as [[Dedup.minhashClusterEdges]] — only connectivity
    * decides the keeper, so both give the same rows and the spanning
    * set is the cheaper input. */
  def keepOnePerCluster(df: DataFrame, id: Column, pairs: DataFrame, a: String, b: String): DataFrame = {
    // reserved names: drop-by-name removes EVERY column with that name,
    // so joining under the caller-visible "id"/"cluster_id" would
    // silently delete a caller's same-named column
    val comps = connectedComponents(pairs, a, b)
      .select(col("id").as("__cc_id"), col("cluster_id").as("__cc_cluster"))
    df.join(comps, id === col("__cc_id"), "left")
      .withColumn("__cc_rep", coalesce(col("__cc_cluster"), id))
      .drop("__cc_id", "__cc_cluster")
      .filter(id === col("__cc_rep"))
      .drop("__cc_rep")
  }

  /** Quality-aware keep rule: per near-dup cluster keep the row that
    * ranks FIRST under `order` (e.g. highest quality score, longest
    * text — give it a total order with an id tiebreak, or the keeper
    * is nondeterministic). The min-id rule of [[keepOnePerCluster]]
    * throws away a long clean document because a stub with a smaller
    * id near-matched it; ranking by quality keeps the copy worth
    * training on. Singletons pass through untouched.
    *
    * Selection runs through the GroupTopK operator (k = 1): each map
    * partition reduces to one candidate per cluster BEFORE the
    * exchange, so the shuffle carries one row per (cluster,
    * partition) — not the corpus. `pairs` takes the same edge sets as
    * [[keepOnePerCluster]]: the clusters are connected components, so
    * a spanning edge set ([[Dedup.minhashClusterEdges]]) suffices. */
  def keepBestPerCluster(df: DataFrame, id: Column, pairs: DataFrame, a: String, b: String,
      order: Seq[Column]): DataFrame = {
    val comps = connectedComponents(pairs, a, b)
      .select(col("id").as("__cc_id"), col("cluster_id").as("__cc_cluster"))
    val labeled = df.join(comps, id === col("__cc_id"), "left")
      .withColumn("__cluster", coalesce(col("__cc_cluster"), id))
      .drop("__cc_id", "__cc_cluster")
    org.apache.spark.sql.graft.GraftPlans
      .groupTopK(labeled, Seq(col("__cluster")), order, 1)
      .drop("__cluster")
  }

  /** Component-size histogram — the dedup diagnostic read BEFORE
    * acting on clusters: one row per observed size with the cluster
    * count, member mass, and exact per-mille share of all clustered
    * members. A heavy tail (one giant component holding half the
    * mass) means the banding is too loose and keep-one would nuke
    * half the corpus; many 2-clusters means it's working. Input is
    * any (member, cluster) frame (e.g. [[connectedComponents]]
    * output); two tiny aggregates after it — cluster-sized, then
    * size-histogram-sized. */
  def componentSizes(components: DataFrame, cluster: Column): DataFrame = {
    components.groupBy(cluster.as("__c")).agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))
      .withColumn("share_pm",
        expr("(1000 * n_docs) div greatest(sum(n_docs) over (), 1)"))
      .select("size", "n_clusters", "n_docs", "share_pm")
  }
}
