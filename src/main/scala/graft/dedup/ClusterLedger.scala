package graft.dedup

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.operators.Checkpoints
import graft.sources.{CommitSlot, Versioned}
import graft.sources.CommitSlot.rmTree

/** Persisted incremental connected-components ledger — the
  * clustering-side completion of the build-once dedup family
  * (SURVEY.md §2.3/24e5). The MinHash band index (MinhashIndex)
  * already delivers a new drop's near-dup PAIRS at drop cost; before
  * this ledger, turning those pairs into cluster decisions re-ran
  * `connectedComponents` over the corpus-wide pair graph every time.
  * The ledger persists the (id, cluster_id) labeling and merges each
  * drop's edges into it INCREMENTALLY:
  *
  *  1. the drop's edges are projected onto the CLUSTER graph — each
  *     endpoint is replaced by its current cluster label (its own id
  *     when unseen), so the merge problem is drop-edge-sized, never
  *     corpus-sized;
  *  2. `Components.connectedComponents` runs on that tiny projected
  *     graph (for real drops this takes the single-task union-find
  *     fast path — exactly "local union-find over the affected
  *     components");
  *  3. only rows whose cluster id actually merged are relabeled, and
  *     only the label-table BUCKETS holding an affected or new row
  *     are rewritten (labels are hash-partitioned on id — an id never
  *     changes buckets, so untouched buckets' files are never opened,
  *     let alone rewritten).
  *
  * Storage/atomicity: the label table is a BUCKET STORE. Each append
  * stages its rewritten buckets (whole — touched rows plus their
  * untouched co-residents) into a fresh immutable directory
  * `a%05d/bkt=K/…` and then swaps `_cluster_manifest.json` — the
  * single mutable object, holding the bucket count and the
  * bucket→append-directory owner map — with one atomic rename. The
  * manifest is the COMMIT POINT:
  *
  *  - a crash anywhere before the swap leaves the manifest (and so
  *    every reader) on the previous fully-consistent labeling; the
  *    orphan staging directory is reclaimed by the retry, which
  *    reruns the identical drop-sized merge. No torn state — a
  *    half-committed multi-bucket overwrite can never be observed,
  *    so the replay-heals claim needs no label-repair pass;
  *  - appends commute and a replayed drop is a no-op, because
  *    cluster labels are component MINIMA and min-label merging is a
  *    semilattice fold — `append(d1); append(d2)` is bit-equal to
  *    `connectedComponents(d1 ∪ d2)` (spec-pinned);
  *  - the bucket count is fixed at ledger creation inside the same
  *    manifest (ids hash to buckets, so a mismatched count would
  *    orphan rows — the first fuzz sweep of this family produced
  *    exactly that corruption); a crashed FIRST append leaves no
  *    manifest and therefore no contract to violate;
  *  - an empty drop (no non-null pairs) is a no-op that writes
  *    nothing — in particular an empty FIRST micro-batch of a stream
  *    appended per [[graft.streaming.EventStreams.eachBatch]] does not
  *    create an empty unreadable table.
  *
  * Scale shape: the only corpus-sized artifact is the label table
  * itself (near-dup-doc-count rows, tiny next to the corpus). An
  * append reads it once (pruned: the endpoint lookup broadcasts the
  * drop's endpoints; the relabel scan broadcasts the affected-cluster
  * set) and rewrites only affected buckets; a bucket's live content
  * always lives entirely in the one directory that last rewrote it,
  * so a read unions at most min(appends, numBuckets) partition-pruned
  * scans. Superseded directories are garbage-collected by [[vacuum]].
  * Nothing ever collects to the driver beyond the ≤ numBuckets owner
  * map.
  */
object ClusterLedger {

  /** What an append did: how many label rows merged into a different
    * cluster, how many new ids were registered, and which buckets were
    * rewritten (audit hook — untouched buckets prove the incremental
    * contract). */
  final case class AppendStats(relabeled: Long, newIds: Long, rewrittenBuckets: Seq[Int])

  /** The manifest: bucket count, number of committed appends,
    * `owner(b)` = the append index whose directory holds bucket b's
    * current content (0 = never written: bucket is empty), and the
    * (id, cluster_id) schema, so [[lookup]] plans with no footer-read
    * job (None on manifests written before the field existed). */
  private[graft] final case class Manifest(numBuckets: Int, appends: Int, owner: Vector[Int],
      labelSchema: Option[StructType] = None)

  private def manifestFile(path: String) = new File(path, "_cluster_manifest.json")
  private def appendDir(path: String, idx: Int) = new File(path, f"a$idx%05d")

  private val NumRe = """"numBuckets"\s*:\s*(\d+)""".r.unanchored
  private val AppRe = """"appends"\s*:\s*(\d+)""".r.unanchored
  private val OwnRe = """"owner"\s*:\s*\[([0-9,\s]*)\]""".r.unanchored
  private val SchemaRe = """"schema"\s*:\s*"([^"]+)"""".r.unanchored

  private def render(m: Manifest): String =
    s"""{"numBuckets": ${m.numBuckets}, "appends": ${m.appends}, "owner": [${m.owner.mkString(",")}]""" +
      m.labelSchema.map(t => s""", "schema": "${t.toDDL}"""").getOrElse("") + "}"

  private[graft] def readManifest(path: String): Option[Manifest] = {
    val f = manifestFile(path)
    if (!f.exists()) None
    else {
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val nb = text match { case NumRe(n) => n.toInt case _ => sys.error(s"bad cluster-ledger manifest: $text") }
      val ap = text match { case AppRe(n) => n.toInt case _ => sys.error(s"bad cluster-ledger manifest: $text") }
      val own = text match {
        case OwnRe(s) => s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toVector
        case _ => sys.error(s"bad cluster-ledger manifest: $text")
      }
      require(own.length == nb, s"cluster-ledger manifest owner map has ${own.length} entries for $nb buckets")
      val schema = text match { case SchemaRe(ddl) => Some(StructType.fromDDL(ddl)) case _ => None }
      Some(Manifest(nb, ap, own, schema))
    }
  }

  /** Atomic commit: write beside, rename over. */
  private def writeManifest(path: String, m: Manifest): Unit = {
    val tmp = new File(path, s"_cluster_manifest.json.tmp${System.nanoTime()}")
    java.nio.file.Files.write(tmp.toPath, render(m).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, manifestFile(path).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** One append directory as (id, cluster_id, bkt). The recorded
    * label schema plans the scan with no footer-read job; only a
    * manifest written before the schema was recorded infers it. */
  private def readAppend(spark: SparkSession, path: String, m: Manifest, idx: Int): DataFrame =
    m.labelSchema.fold(spark.read)(t => spark.read.schema(t.add("bkt", IntegerType)))
      .parquet(appendDir(path, idx).getPath)

  /** Assemble the current labeling from the owner map: one
    * partition-pruned scan per distinct owning directory (≤
    * min(appends, numBuckets) of them), unioned. */
  private def assemble(spark: SparkSession, path: String, m: Manifest): DataFrame = {
    val byDir = m.owner.zipWithIndex.filter(_._1 > 0).groupBy(_._1)
    val parts = byDir.toSeq.sortBy(_._1).map { case (idx, entries) =>
      val bkts = entries.map(_._2)
      readAppend(spark, path, m, idx)
        .filter(col("bkt").isin(bkts: _*))
        .select(col("id"), col("cluster_id"), col("bkt").cast("int").as("bkt"))
    }
    parts.reduceOption(_ unionByName _).getOrElse(
      sys.error(s"cluster ledger at $path has no committed buckets"))
  }

  /** The current labeling: (id, cluster_id) for every node any
    * appended pair graph has mentioned. */
  def labels(spark: SparkSession, path: String): DataFrame = {
    val m = readManifest(path).getOrElse(sys.error(s"no cluster ledger at $path"))
    assemble(spark, path, m).select("id", "cluster_id")
  }

  /** Merge one drop's near-dup pairs into the ledger. `numBuckets` is
    * fixed at ledger creation (the first committing append persists it
    * in the manifest) and a later append with a DIFFERENT value is
    * refused loudly: ids hash to buckets, so a silent mismatch writes
    * a relabeled row into its new-count bucket while the stale copy
    * survives in the old one — duplicate labels. (The first 100-seed
    * fuzz sweep of this family produced exactly that corruption before
    * this guard existed.) Returns [[AppendStats]]. */
  def append(path: String, pairs: DataFrame, a: String, b: String,
      numBuckets: Int = 64): AppendStats = {
    require(numBuckets > 0)
    val spark = pairs.sparkSession
    val startedMs = System.currentTimeMillis()
    val existing = readManifest(path)
    existing.foreach { m =>
      require(numBuckets == m.numBuckets,
        s"cluster ledger at $path was created with numBuckets=${m.numBuckets}; " +
          s"append called with $numBuckets — ids hash to buckets, a mismatch orphans rows")
    }

    // the drop's edge list — evaluated several times (endpoint lookup
    // + new-id scan + cluster-graph projection), so materialize once;
    // drops are small by construction. Rows with a null endpoint are
    // dropped (a pair needs two sides; register a singleton as the
    // self-pair (x, x))
    // the count rides the checkpoint's own materializing job
    // (eagerCount): it is the emptiness gate AND the edge bound the
    // union-finds below need to run lazily (an empty drop is a
    // committed no-op: nothing to merge, nothing to write — in
    // particular a FIRST empty drop must not create the ledger; an
    // empty parquet directory cannot even be re-read)
    val (e, eCnt) = Checkpoints.eagerCount(
      pairs.select(col(a).as("__u"), col(b).as("__v"))
        .filter(col("__u").isNotNull && col("__v").isNotNull))
    if (eCnt == 0L) {
      Checkpoints.release(e)
      return AppendStats(0L, 0L, Nil)
    }

    // `out` stays LAZY: its one consumer is the observed staging write
    // below, which computes the append stats in the same pass (the
    // round-16 profile measured this protocol's driver-job count, not
    // its bytes, as q_cluster_incr's cost — the eager out + separate
    // stats aggregate were two more jobs per append). The union-finds
    // run lazily too (connectedComponentsBounded with the measured
    // eCnt): no symmetric checkpoint, no size-probe job. `extraCks`
    // are the general path's intermediate checkpoints, which must
    // outlive the write that consumes the lazy plan over them.
    val (out, extraCks) = if (existing.isEmpty) {
      // FIRST append: the staged rows are exactly the drop's connected
      // components (every projection/relabel step degenerates over the
      // empty label table)
      (Components.connectedComponentsBounded(e, "__u", "__v", eCnt)
        .withColumn("__src", lit(1))
        .withColumn("bkt", Versioned.bktCol(Seq("id"), numBuckets))
        .select(col("id"), col("cluster_id"), col("bkt"), col("__src")),
        Seq.empty[DataFrame])
    } else {
      val m = existing.get
      val cur = assemble(spark, path, m)

      // 1. endpoints → current cluster labels (unseen endpoint = itself).
      //    The drop side is broadcast; the label table streams past it.
      val ends = e.select(col("__u").as("__nid")).union(e.select(col("__v").as("__nid"))).distinct()
      val endLab = Checkpoints.eager(
        ends.join(cur.select(col("id").as("__nid"), col("cluster_id").as("__ncl")),
            Seq("__nid"), "left")
          .select(col("__nid"), coalesce(col("__ncl"), col("__nid")).as("__ncl")))
      // 2. the projected cluster graph: one edge per drop edge, plus a
      //    self-loop per endpoint cluster so isolated new nodes register
      val clEdges = e
        .join(endLab.select(col("__nid").as("__u"), col("__ncl").as("cu")), Seq("__u"))
        .join(endLab.select(col("__nid").as("__v"), col("__ncl").as("cv")), Seq("__v"))
        .select(col("cu"), col("cv"))
        .union(endLab.select(col("__ncl").as("cu"), col("__ncl").as("cv")))
      // 3. drop-sized merge (single-task union-find under the
      //    threshold — clEdges is ≤ eCnt drop edges + ≤ 2·eCnt
      //    endpoint self-loops, so the 3·eCnt bound lets the
      //    union-find run lazily with no size-probe job)
      val remap = Checkpoints.eager(
        Components.connectedComponentsBounded(clEdges, "cu", "cv", 3L * eCnt)
          .select(col("id").as("__old"), col("cluster_id").as("__new")))
      // moved/relabeled/newRows are cheap filters/joins over the remap
      // and endLab CHECKPOINTS — consumed lazily inside the single
      // `out` materialization below, no checkpoint (and so no job) of
      // their own (guide §1.2; they were eager in round 15)
      val moved = remap.filter(col("__old") =!= col("__new"))

      // 4. relabel only rows of clusters that actually merged (broadcast
      //    the moved set — it is bounded by the drop's edge count)
      val relabeled = cur
        .join(broadcast(moved), cur("cluster_id") === col("__old"))
        .select(cur("id"), col("__new").as("cluster_id"))
      // 5. register ids the ledger has never seen, at their merged label
      val newRows = ends
        .join(cur.select(col("id").as("__nid")), Seq("__nid"), "left_anti")
        .join(remap, col("__nid") === col("__old"), "left")
        .select(col("__nid").as("id"), coalesce(col("__new"), col("__nid")).as("cluster_id"))

      // __src marks each staged row's provenance (0 relabeled, 1 new id,
      // 2 carried co-resident) so ONE per-bucket aggregate below yields
      // the rewritten-bucket set AND both stats counts — previously
      // three separate jobs over the same checkpoint (guide §1.2)
      val touched = relabeled.withColumn("__src", lit(0))
        .unionByName(newRows.withColumn("__src", lit(1)))
        .withColumn("bkt", Versioned.bktCol(Seq("id"), numBuckets))
      // 6. affected buckets are rewritten WHOLE into the staged append
      //    directory (a bucket's live content must stay in one place):
      //    carry their untouched co-resident rows through unchanged.
      //    Relabeled ids are excluded via the moved-cluster anti-join;
      //    brand-new ids are not in `cur` by construction.
      val bkts = touched.select("bkt").distinct()
      val carried = cur
        .join(broadcast(bkts), Seq("bkt"), "left_semi")
        .join(broadcast(moved), cur("cluster_id") === col("__old"), "left_anti")
        .select(col("id"), col("cluster_id"), col("bkt"), lit(2).as("__src"))
      (touched.select("id", "cluster_id", "bkt", "__src").unionByName(carried),
        Seq(endLab, remap))
    }
    // release only THIS append's checkpoints, on every exit — a
    // caller's own eager frames stay alive
    try commitAppend(path, existing, numBuckets, startedMs, out)
    finally (e +: extraCks).foreach(Checkpoints.release)
  }

  /** Stage `out` (the rewritten buckets' rows, with `__src` provenance)
    * and commit it as the next append. */
  private def commitAppend(path: String, existing: Option[Manifest], numBuckets: Int,
      startedMs: Long, out: DataFrame): AppendStats = {
    // stage the write FIRST and read the append stats + the
    // rewritten-bucket set off the SAME pass as observed metrics
    // (guide §1.4: don't pay a second action for numbers the write
    // already knows — the separate per-bucket aggregate was one more
    // driver-synchronous job per append). A drop that rewrites nothing
    // (pure replay) stages an empty directory, which is discarded
    // below without touching the manifest — the committed-no-op
    // semantics are unchanged.
    val idx = existing.map(_.appends).getOrElse(0) + 1
    val staging = new File(path, f"a$idx%05d_tmp${System.nanoTime()}")
    new File(path).mkdirs()
    val obs = org.apache.spark.sql.Observation()
    // cluster by bucket before partitionBy (the Versioned staging
    // discipline): one file per rewritten bucket, not tasks × buckets.
    // REBALANCE, not repartition: write parallelism follows the data
    // (AQE splits an oversized bucket, coalesces tiny ones) instead of
    // pinning a task per bucket (guide §2.6)
    out.observe(obs,
        sum(when(col("__src") === 0, 1L).otherwise(0L)).as("rel"),
        sum(when(col("__src") === 1, 1L).otherwise(0L)).as("neu"),
        collect_set(col("bkt")).as("bkts"))
      .drop("__src").hint("rebalance", col("bkt"))
      .write.mode(SaveMode.Overwrite).partitionBy("bkt").parquet(staging.getPath)
    val metrics = obs.get
    val rewritten = metrics("bkts").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Int]).sorted
    val stats = AppendStats(
      relabeled = Option(metrics("rel")).map(_.asInstanceOf[Long]).getOrElse(0L),
      newIds = Option(metrics("neu")).map(_.asInstanceOf[Long]).getOrElse(0L),
      rewrittenBuckets = rewritten)
    if (rewritten.isEmpty) rmTree(staging) // pure-replay no-op: nothing rewritten
    else {
      // commit the staged NONCE-suffixed private dir into the a%05d
      // slot ([[CommitSlot.commit]]), then swap the manifest: readers
      // switch from the old consistent labeling to the new one
      // instantly. A lost race refuses; the caller replays the drop
      // against the new state (a semilattice no-op for whatever both
      // drops agreed on)
      val claim = commitSlot(path, idx, startedMs, staging, now =>
        s"concurrent append detected on cluster ledger $path: committed " +
          s"append count moved ${idx - 1} -> $now (or another writer holds " +
          f"the a$idx%05d slot) while this drop staged — the ledger is " +
          "single-writer; replay the drop against the new state")
      val oldOwner = existing.map(_.owner).getOrElse(Vector.fill(numBuckets)(0))
      val owner = rewritten.foldLeft(oldOwner)((o, bkt) => o.updated(bkt, idx))
      writeManifest(path, Manifest(numBuckets, idx, owner, Some(labelSchemaOf(out))))
      claim.release()
    }
    stats
  }

  /** [[CommitSlot.commit]] of `staging` into append slot `idx`, against
    * the committed append count this writer started from. */
  private def commitSlot(path: String, idx: Int, startedMs: Long, staging: File,
      refusal: Int => String): CommitSlot.Claim =
    CommitSlot.commit(new File(path, f"_claim_a$idx%05d"), startedMs, staging,
      appendDir(path, idx), "ledger", () => readManifest(path).map(_.appends).getOrElse(0),
      idx - 1, refusal)

  /** Point lookup: ONE id's cluster label — the serving-path read.
    * The id hashes to its bucket under the ledger's fixed layout, and
    * the scan touches ONLY that bucket's partition inside its one
    * owning append directory (the [[graft.sources.Versioned.lookup]]
    * shape: at 100 TB a "which cluster is this doc in" fetch reads
    * one bucket's files, never the label table). The bucket id comes
    * from [[graft.sources.Versioned.bktOf]] — the writers' hash,
    * evaluated on the driver with zero jobs. Missing ids return an
    * empty frame. */
  def lookup(spark: SparkSession, path: String, idValue: Any): DataFrame = {
    val m = readManifest(path).getOrElse(sys.error(s"no cluster ledger at $path"))
    val bkt = Versioned.bktOf(spark, Seq(idValue), m.numBuckets)
    val ownerIdx = m.owner(bkt)
    m.labelSchema match {
      case Some(schema) if ownerIdx == 0 => // bucket never written: id unseen
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case None if ownerIdx == 0 => labels(spark, path).filter(lit(false))
      case _ =>
        readAppend(spark, path, m, ownerIdx)
          .filter(col("bkt") === bkt && col("id") === lit(idValue))
          .select("id", "cluster_id")
    }
  }

  private def labelSchemaOf(df: DataFrame): StructType = df.select("id", "cluster_id").schema

  /** Consolidate the ledger: rewrite the ENTIRE live labeling into one
    * new append directory owning every non-empty bucket — a long
    * append chain leaves the owner map spread over many directories (a
    * read unions one partition-pruned scan per distinct directory, and
    * [[vacuum]] must retain every referenced one); compaction
    * collapses that to a single directory, after which vacuum reclaims
    * the whole chain. Content is untouched (bit-equal read,
    * spec-pinned) — the maintenance pass between the nightly appends,
    * exactly [[graft.sources.Versioned.compact]] on the ledger side.
    * Commits through the same [[CommitSlot.commit]] as [[append]].
    *
    * `newBuckets` additionally EVOLVES the bucket count — the
    * ledger's rebucket (the same rewrite under a new layout contract:
    * ids re-hash, the manifest records the new count, later appends
    * must pass it — the mismatch guard stays loud). */
  def compact(spark: SparkSession, path: String,
      newBuckets: Option[Int] = None): AppendStats = {
    val startedMs = System.currentTimeMillis()
    val m = readManifest(path).getOrElse(sys.error(s"no cluster ledger at $path"))
    newBuckets.foreach(n => require(n > 0))
    val nb = newBuckets.getOrElse(m.numBuckets)
    val assembled = assemble(spark, path, m)
    val cur = Checkpoints.eager(
      if (nb == m.numBuckets) assembled
      else assembled.drop("bkt")
        .withColumn("bkt", Versioned.bktCol(Seq("id"), nb)))
    try {
      val idx = m.appends + 1
      val staging = new File(path, f"a$idx%05d_tmp${System.nanoTime()}")
      // cluster by bucket before partitionBy (one file per bucket),
      // and read the staged bucket set from the bkt=K directory names
      // instead of a distinct-scan job over everything just written
      cur.hint("rebalance", col("bkt"))
        .write.mode(SaveMode.Overwrite).partitionBy("bkt").parquet(staging.getPath)
      val stagedBkts: Set[Int] = Option(staging.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
        .map(_.getName.stripPrefix("bkt=").toInt).toSet
      val claim = commitSlot(path, idx, startedMs, staging, now =>
        s"concurrent append detected on cluster ledger $path: committed append " +
          s"count moved ${idx - 1} -> $now while this compaction staged — " +
          "the ledger is single-writer; re-run against the new state")
      val owner = Vector.tabulate(nb)(b => if (stagedBkts(b)) idx else 0)
      writeManifest(path, Manifest(nb, idx, owner, Some(labelSchemaOf(cur))))
      claim.release()
      AppendStats(relabeled = 0L, newIds = 0L,
        rewrittenBuckets = stagedBkts.toSeq.sorted)
    } finally Checkpoints.release(cur)
  }

  /** [[append]] with bounded replay on a lost single-writer race: the
    * loser re-resolves the new committed labeling and replays its
    * drop against it — PROVABLY safe here, because cluster labels are
    * component minima and min-label merging is a semilattice fold
    * (appends commute; a replayed drop is a no-op), so any
    * interleaving of retrying writers converges to
    * `connectedComponents(∪ drops)` exactly. Backoff is linear;
    * non-race failures propagate immediately. */
  def appendRetry(path: String, pairs: DataFrame, a: String, b: String,
      numBuckets: Int = 64, attempts: Int = 5, backoffMs: Long = 500L): AppendStats = {
    CommitSlot.retrying(attempts, backoffMs)(_ => append(path, pairs, a, b, numBuckets))
  }

  /** GC append directories no longer referenced by the owner map
    * (every bucket they once held has since been rewritten elsewhere).
    * Returns the deleted directory names. The manifest itself is
    * untouched — vacuuming never changes the labeling.
    *
    * Staging orphans and claim files are swept only past
    * `staleStagingMillis` (default 24 h): vacuum may race an IN-FLIGHT
    * append, and a fresh `_tmp` directory is very likely a live writer
    * mid-stage — deleting its files could corrupt the staged write
    * before the manifest swap. The age gate restricts the sweep to
    * directories no live append can still own. */
  def vacuum(path: String,
      staleStagingMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val m = readManifest(path).getOrElse(sys.error(s"no cluster ledger at $path"))
    val live = m.owner.filter(_ > 0).toSet
    val cutoff = System.currentTimeMillis() - staleStagingMillis
    val entries = Option(new File(path).listFiles()).getOrElse(Array.empty)
    val doomed = entries
      .filter(f => f.isDirectory &&
        ((f.getName.matches("a\\d{5}") &&
          !live.contains(f.getName.stripPrefix("a").toInt)) ||
          // crashed appends' nonce-suffixed staging orphans — age-gated
          (f.getName.matches("a\\d{5}_tmp\\d+") && f.lastModified() <= cutoff)))
    doomed.foreach(rmTree)
    // crashed appends' commit-slot claims (a committed append deletes
    // its claim; only a crash strands one) — same age gate
    entries.filter(f => f.isFile && f.getName.startsWith("_claim_") &&
      f.lastModified() <= cutoff).foreach(_.delete())
    doomed.map(_.getName).toSeq.sorted
  }

}
