package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Versioned

/** Merge-on-read publishes (SURVEY.md §2.2/22bh21): [[Versioned.patch]]
  * writes ONLY the drop as a pending delta layer — O(drop), no bucket
  * rewrite — and every read reconciles the layers over the untouched
  * base (newest layer wins per key) with results EXACTLY equal to the
  * sequential [[Versioned.merge]] of the same drops. Layers fold back
  * into the base via merge / foldDeltas / compact / maintain, and the
  * crash/claim discipline is the merge publish's own.
  *
  * Reference semantics: the same key-level upsert/delete contract the
  * reference's file drops carry (shmr/dataset.py partition replace);
  * the delta-layer mechanics follow the public merge-on-read design
  * every log-structured table format documents. */
class PatchSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_patch").toString + "/corpus"

  private def baseDocs(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")

  private def drop(rows: (Long, String, Boolean)*): DataFrame =
    rows.toDF("doc_id", "text", "del")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("patch equals merge: same base, same drop, bit-equal reads; owner map untouched") {
    val d = drop((3L, "d3 v2", false), (5L, "", true), (100L, "new", false))
    val mergedRoot = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(32), mergedRoot, "doc_id", 8).promoted)
    val mr = Versioned.merge(d, mergedRoot, deleted = col("del"))
    assert(mr.merged)

    val patchedRoot = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(32), patchedRoot, "doc_id", 8).promoted)
    val pr = Versioned.patch(d, patchedRoot, deleted = col("del"))
    assert(pr.patched && pr.layers === 1)
    // identical exact accounting
    assert((pr.upserted, pr.inserted, pr.deleted) ===
      ((mr.upserted, mr.inserted, mr.deleted)))
    // identical content
    assert(sortedRows(Versioned.read(spark, patchedRoot)) ===
      sortedRows(Versioned.read(spark, mergedRoot)))
    // the patch rewrote NOTHING: every bucket still owned by v00001
    val spec = Versioned.currentManifest(patchedRoot).flatMap(_.buckets).get
    assert(spec.owner.distinct === Vector("v00001"))
    assert(spec.deltas === Seq("v00002"))
    assert(spec.deltaRows === Seq(3L))
    // the exact row gauge moved with the layer (one insert, one delete)
    assert(spec.rows === 32L)
  }

  test("layers shadow correctly: re-update, resurrect-after-delete, delete-of-insert") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(16), root, "doc_id", 4).promoted)
    assert(Versioned.patch(
      drop((1L, "d1 v2", false), (2L, "", true), (50L, "new50", false)),
      root, deleted = col("del")).patched)
    val p2 = Versioned.patch(
      drop((1L, "d1 v3", false), (2L, "back2", false), (50L, "", true)),
      root, deleted = col("del"))
    assert(p2.patched && p2.layers === 2)
    // accounting is against the RECONCILED pre-image: key 1 updates,
    // key 2 was deleted by layer 1 so its re-add is an INSERT, key 50
    // was inserted by layer 1 so its delete counts
    assert((p2.upserted, p2.inserted, p2.deleted) === ((1L, 1L, 1L)))
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(got(1L) === "d1 v3")
    assert(got(2L) === "back2")
    assert(!got.contains(50L))
    assert(got.size === 16)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).get.rows === 16L)
  }

  test("reconciliation is broadcast-shaped: no shuffle join on the base side") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(64), root, "doc_id", 8).promoted)
    assert(Versioned.patch(drop((3L, "d3 v2", false)), root, deleted = col("del")).patched)
    val plan = Versioned.read(spark, root).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"delta shadowing must broadcast the layer keys, plan was:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "a small patch layer must never shuffle the base scan")
  }

  test("lookup probes layers newest-first and falls through to the base") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(32), root, "doc_id", 8,
      keyBloomBits = 1 << 10).promoted)
    assert(Versioned.patch(
      drop((3L, "d3 v2", false), (5L, "", true), (100L, "new", false)),
      root, deleted = col("del")).patched)
    assert(Versioned.patch(
      drop((3L, "d3 v3", false)), root, deleted = col("del")).patched)
    // newest layer wins
    assert(Versioned.lookup(spark, root, 3L).as[(Long, String)].collect().toSeq
      === Seq(3L -> "d3 v3"))
    // a layer-1 value not shadowed by layer 2
    assert(Versioned.lookup(spark, root, 100L).as[(Long, String)].collect().toSeq
      === Seq(100L -> "new"))
    // a deleted key answers empty even though its base row exists
    assert(Versioned.lookup(spark, root, 5L).isEmpty)
    // a base-only key falls through to the bloom-pruned base path
    assert(Versioned.lookup(spark, root, 17L).as[(Long, String)].collect().toSeq
      === Seq(17L -> "d17"))
    // an absent key: every layer's bloom excludes it → the delta
    // probes cost ZERO jobs and the base path keeps its own discipline
    assert(Versioned.lookup(spark, root, 999999L).isEmpty)
  }

  test("merge after patches folds the layers (content + accounting + empty deltas)") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(16), root, "doc_id", 4).promoted)
    assert(Versioned.patch(
      drop((1L, "d1 v2", false), (2L, "", true), (50L, "new50", false)),
      root, deleted = col("del")).patched)
    // the merge's own drop: updates patched key 1 (user wins), deletes
    // base key 3, inserts 60
    val mr = Versioned.merge(
      drop((1L, "d1 merged", false), (3L, "", true), (60L, "new60", false)),
      root, deleted = col("del"))
    assert(mr.merged)
    // accounting counts the USER drop against the reconciled pre-image
    assert((mr.upserted, mr.inserted, mr.deleted) === ((1L, 1L, 1L)))
    val spec = Versioned.currentManifest(root).flatMap(_.buckets).get
    assert(spec.deltas.isEmpty && spec.deltaRows.isEmpty,
      "a merge must fold every pending layer")
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(got(1L) === "d1 merged")
    assert(!got.contains(2L) && !got.contains(3L))
    assert(got(50L) === "new50" && got(60L) === "new60")
    assert(spec.rows === got.size.toLong)
  }

  test("foldDeltas is content-preserving, empties the layer list, and no-ops when clean") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(32), root, "doc_id", 8).promoted)
    assert(Versioned.patch(
      drop((3L, "d3 v2", false), (5L, "", true), (100L, "new", false)),
      root, deleted = col("del")).patched)
    assert(Versioned.patch(
      drop((3L, "d3 v3", false), (5L, "back5", false)),
      root, deleted = col("del")).patched)
    val before = sortedRows(Versioned.read(spark, root))
    val f = Versioned.foldDeltas(spark, root)
    assert(f.merged)
    // folding rewrites ONLY the layers' touched buckets
    assert(f.rewrittenBuckets.nonEmpty && f.rewrittenBuckets.size < 8)
    // fold itself moves no keys: accounting is all-zero
    assert((f.upserted, f.inserted, f.deleted) === ((0L, 0L, 0L)))
    val spec = Versioned.currentManifest(root).flatMap(_.buckets).get
    assert(spec.deltas.isEmpty)
    assert(sortedRows(Versioned.read(spark, root)) === before)
    // second fold: explicit no-op, pointer unmoved
    val v = Versioned.currentManifest(root).get.version
    val f2 = Versioned.foldDeltas(spark, root)
    assert(!f2.merged && f2.reason.exists(_.contains("no delta layers")))
    assert(Versioned.currentManifest(root).get.version === v)
  }

  test("compact and maintain fold pending layers; maintain reports the gauge") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(32), root, "doc_id", 8).promoted)
    assert(Versioned.patch(drop((3L, "d3 v2", false)), root, deleted = col("del")).patched)
    val before = sortedRows(Versioned.read(spark, root))
    val m = Versioned.maintain(spark, root, maxOwnerDirs = 64, retainLast = 1)
    assert(m.foldedLayers === 1)
    val spec = Versioned.currentManifest(root).flatMap(_.buckets).get
    assert(spec.deltas.isEmpty)
    assert(sortedRows(Versioned.read(spark, root)) === before)
    // compact on a freshly patched sibling also clears the layers
    val root2 = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(32), root2, "doc_id", 8).promoted)
    assert(Versioned.patch(drop((3L, "d3 v2", false)), root2, deleted = col("del")).patched)
    val before2 = sortedRows(Versioned.read(spark, root2))
    assert(Versioned.compact(spark, root2).promoted)
    assert(Versioned.currentManifest(root2).flatMap(_.buckets).get.deltas.isEmpty)
    assert(sortedRows(Versioned.read(spark, root2)) === before2)
  }

  test("schema evolution through a patch layer: added columns null-fill everywhere else") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(8), root, "doc_id", 4).promoted)
    val evolving = Seq((3L, "d3 v2", "en", false), (50L, "new", "de", false))
      .toDF("doc_id", "text", "lang", "del")
    assert(Versioned.patch(evolving, root, deleted = col("del")).patched)
    val got = Versioned.read(spark, root)
      .as[(Long, String, Option[String])].collect()
      .map { case (k, v, l) => (k, (v, l)) }.toMap
    assert(got(3L) === (("d3 v2", Some("en"))))
    assert(got(50L) === (("new", Some("de"))))
    assert(got(1L) === (("d1", None)), "old rows read null for the added column")
    // the widened schema is recorded; a later fold keeps it
    assert(Versioned.foldDeltas(spark, root).merged)
    assert(Versioned.read(spark, root).columns.toSeq === Seq("doc_id", "text", "lang"))
    // a delete-only patch (keys + marker, no data columns) still lands
    assert(Versioned.patch(Seq((1L, true)).toDF("doc_id", "del"), root,
      deleted = col("del")).patched)
    assert(!Versioned.read(spark, root).as[(Long, String, Option[String])]
      .collect().exists(_._1 == 1L))
    // ...but a patch UPSERT missing an existing column refuses loudly
    val e = intercept[IllegalArgumentException] {
      Versioned.patch(Seq((2L, "no text col", false)).toDF("doc_id", "lang", "del"),
        root, deleted = col("del"))
    }
    assert(e.getMessage.contains("missing table columns"))
  }

  test("maxDeltaLayers bounds read amplification with a loud remedy") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(8), root, "doc_id", 2).promoted)
    for (i <- 0 until 3)
      assert(Versioned.patch(drop((i.toLong, s"p$i", false)), root,
        deleted = col("del"), maxDeltaLayers = 3).patched)
    val e = intercept[RuntimeException] {
      Versioned.patch(drop((5L, "over", false)), root,
        deleted = col("del"), maxDeltaLayers = 3)
    }
    assert(e.getMessage.contains("delta layers") && e.getMessage.contains("fold"))
    // folding resets the budget
    assert(Versioned.foldDeltas(spark, root).merged)
    assert(Versioned.patch(drop((5L, "ok now", false)), root,
      deleted = col("del"), maxDeltaLayers = 3).patched)
  }

  test("crash at every publish point: reader stays pinned, the retry heals") {
    val oracleRoot = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(16), oracleRoot, "doc_id", 4).promoted)
    val d = drop((1L, "d1 v2", false), (2L, "", true), (50L, "new50", false))
    assert(Versioned.merge(d, oracleRoot, deleted = col("del")).merged)
    val want = sortedRows(Versioned.read(spark, oracleRoot))

    for (point <- Seq("staged", "claimed", "renamed", "chain")) {
      val root = freshRoot()
      assert(Versioned.promoteBucketed(baseDocs(16), root, "doc_id", 4).promoted)
      val preCrash = sortedRows(Versioned.read(spark, root))
      Seams.crashAt(s"versioned.$point")
      val killed =
        try { Versioned.patch(d, root, deleted = col("del")); None }
        catch { case t: Throwable => Some(t) }
        finally Seams.disarm()
      assert(killed.exists(_.getMessage.contains("simulated crash")), s"point $point")
      // a reader between crash and retry sees the intact pre-crash version
      assert(sortedRows(Versioned.read(spark, root)) === preCrash, s"point $point")
      // age the stranded claim past the steal slack, then replay
      Option(new File(root).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("_claim_"))
        .foreach(_.setLastModified(System.currentTimeMillis() - 10000))
      assert(Versioned.patch(d, root, deleted = col("del")).patched, s"point $point")
      assert(sortedRows(Versioned.read(spark, root)) === want, s"point $point")
    }
  }

  test("vacuum retains pending layers; a fold makes them reclaimable") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(16), root, "doc_id", 4).promoted)
    assert(Versioned.patch(drop((1L, "d1 v2", false)), root, deleted = col("del")).patched)
    val layerDir = Versioned.currentManifest(root).flatMap(_.buckets).get.deltas.head
    // the layer is live data: retention must keep it
    Versioned.vacuum(root, retainLast = 1, staleStagingMillis = 0L)
    assert(new File(root, layerDir).exists(), "a pending layer is never collectable")
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toMap.apply(1L) === "d1 v2")
    // fold, then publish twice more to rotate the layer out of the
    // retention window — now it is garbage
    assert(Versioned.foldDeltas(spark, root).merged)
    assert(Versioned.merge(drop((2L, "d2 v2", false)), root, deleted = col("del")).merged)
    assert(Versioned.compact(spark, root).promoted)
    assert(Versioned.compact(spark, root).promoted)
    Versioned.vacuum(root, retainLast = 1, staleStagingMillis = 0L)
    assert(!new File(root, layerDir).exists(), "a folded, rotated-out layer is garbage")
  }

  test("time travel and diffVersions resolve through patch versions") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(8), root, "doc_id", 2).promoted)
    assert(Versioned.patch(drop((1L, "d1 v2", false), (2L, "", true)), root,
      deleted = col("del")).patched)
    assert(Versioned.patch(drop((1L, "d1 v3", false)), root, deleted = col("del")).patched)
    // each version reads as the state its publish produced
    assert(Versioned.readVersion(spark, root, 1).as[(Long, String)].collect().toMap
      .apply(1L) === "d1")
    assert(Versioned.readVersion(spark, root, 2).as[(Long, String)].collect().toMap
      .apply(1L) === "d1 v2")
    assert(Versioned.readVersion(spark, root, 3).as[(Long, String)].collect().toMap
      .apply(1L) === "d1 v3")
    // the change feed sees exactly the patch's effect
    val d12 = Versioned.diffVersions(spark, root, 1, 2, col("doc_id"), col("text"),
      keyName = "doc_id")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(d12(1L) === "changed" && d12(2L) === "removed" && d12(3L) === "unchanged")
  }

  test("readRange on a patched zone-mapped table: shadowing stays exact under pruning") {
    val root = freshRoot()
    val base = (0 until 64).map(i => (i.toLong, i.toLong * 10, s"d$i"))
      .toDF("doc_id", "score", "text")
      .repartitionByRange(8, col("score")).sortWithinPartitions("score")
    assert(Versioned.promoteBucketed(base, root, "doc_id", 8,
      zoneCols = Seq("score")).promoted)
    // key 5 (score 50, IN range) moves OUT of range; key 7 (score 70,
    // in range) is deleted; key 200 (score 55) arrives IN range; key 3
    // (score 30, out of range) moves IN (score 45)
    val d = Seq(
      (5L, 500L, "moved out", false),
      (7L, 0L, "", true),
      (200L, 55L, "arrived", false),
      (3L, 45L, "moved in", false)).toDF("doc_id", "score", "text", "del")
    assert(Versioned.patch(d, root, deleted = col("del")).patched)
    val want = sortedRows(Versioned.read(spark, root)
      .filter(col("score") >= 40L && col("score") <= 60L))
    val got = sortedRows(Versioned.readRange(spark, root, "score", 40L, 60L))
    assert(got === want, "pruned ≡ plain must hold across pending layers")
    val ids = Versioned.readRange(spark, root, "score", 40L, 60L)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(5L) && !ids.contains(7L))
    assert(ids.contains(200L) && ids.contains(3L))
  }

  test("patchRetry: a same-key overlapped race refuses via the conflict gate; disjoint keys both commit") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(10), root, "doc_id", 4).promoted)
    val dA = drop((1L, "writer A", false))
    val dB = drop((1L, "writer B", false))
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    def attempt(d: DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Boolean]] {
        def call() = try Right(Versioned.patchRetry(d, root, col("del"), attempts = 8,
          refuseKeyConflicts = true).patched)
        catch { case t: Throwable => Left(t) }
      })
    val meeting = Seams.meet("versioned.commit")(
      Versioned.currentManifest(root).map(_.version))
    val results = try {
      val f1 = attempt(dA)
      val f2 = attempt(dB)
      Seq(f1.get(), f2.get())
    } finally Seams.disarm()
    pool.shutdown()
    assert(meeting.probes === Seq(Some(1), Some(1)),
      "both writers resolved v1 before either committed")
    assert(results.count(_ == Right(true)) === 1 &&
      results.count(_.isLeft) === 1, s"one commits, one refuses: $results")
    results.collect { case Left(t) => t }.foreach { t =>
      assert(t.isInstanceOf[Versioned.MergeConflictException], t)
    }
    // disjoint-key patches replay clean
    assert(Versioned.patchRetry(drop((9L, "fine", false)), root,
      deleted = col("del"), refuseKeyConflicts = true).patched)
    val m = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert((m(1L) === "writer A" || m(1L) === "writer B") && m(9L) === "fine")
  }
}
