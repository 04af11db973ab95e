package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.quality.Validate
import graft.sources.Versioned
import graft.sources.Versioned.DiffGate

/** Write-audit-publish promotion (SURVEY.md §2.2/22bh): a failed
  * audit must leave the live pointer untouched, readers must never
  * observe a half-written or unvalidated version, vacuum must keep
  * the in-flight-reader grace set. */
class PromoteSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_promote").toString + "/corpus"

  private def liveVersion(root: String): Option[Int] =
    Versioned.currentManifest(root).map(_.version)

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val checks = Seq(
    Validate.NotNull("id_not_null", col("doc_id")),
    Validate.Unique("id_unique", Seq(col("doc_id"))))

  test("first promotion publishes v00001 and read returns it") {
    val root = freshRoot()
    val r = Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks)
    assert(r.promoted && r.version === 1 && r.path === "v00001")
    assert(r.violations.forall(_._2 == 0L))
    assert(Versioned.currentManifest(root).map(_.path) === Some("v00001"))
    assert(Versioned.read(spark, root).count() === 2)
  }

  test("failed validation leaves the live pointer untouched and clears staging") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks).promoted)
    val bad = Seq((1L, "x"), (1L, "dup")).toDF("doc_id", "text")
    val r = Versioned.promote(bad, root, checks)
    assert(!r.promoted)
    assert(r.reason.exists(_.contains("id_unique")))
    // pointer still v1, data still the good corpus
    assert(Versioned.currentManifest(root).map(_.version) === Some(1))
    assert(Versioned.read(spark, root).orderBy("doc_id").as[(Long, String)].collect()
      === Array(1L -> "a", 2L -> "b"))
    // no staging or half-published directory remains
    val leftovers = new File(root).listFiles().map(_.getName)
      .filter(n => n.startsWith("_staging") || n == "v00002")
    assert(leftovers.isEmpty, leftovers.toSeq)
  }

  test("diff gate refuses a rebuild that moves too much of the live corpus") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      root, checks).promoted)
    // half the keys changed → 500 per mille > 100 allowed
    val churn = docs(1L -> "A!", 2L -> "B!", 3L -> "c", 4L -> "d")
    val r = Versioned.promote(churn, root, checks,
      Some(DiffGate("doc_id", "text", maxChangedPerMille = 100L)))
    assert(!r.promoted && r.reason.exists(_.contains("diff gate")))
    assert(r.diffStats.toMap.getOrElse("changed", 0L) === 2L)
    assert(Versioned.currentManifest(root).map(_.version) === Some(1))
    // an additive drop under the threshold sails through
    val grow = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
    val r2 = Versioned.promote(grow, root, checks,
      Some(DiffGate("doc_id", "text", maxChangedPerMille = 100L)))
    assert(r2.promoted && r2.version === 2)
    assert(Versioned.read(spark, root).count() === 5)
  }

  test("an in-flight reader of the previous version survives a promotion") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks).promoted)
    val inFlight = Versioned.read(spark, root) // resolves the v1 manifest NOW
    assert(Versioned.promote(docs(10L -> "x", 11L -> "y", 12L -> "z"),
      root, checks).promoted)
    // new readers see v2; the v1 plan still scans intact v1 files
    assert(Versioned.read(spark, root).count() === 3)
    assert(inFlight.count() === 2)
    assert(inFlight.orderBy("doc_id").as[(Long, String)].collect()
      === Array(1L -> "a", 2L -> "b"))
  }

  test("rollback publishes the old data as a NEW version — history is never rewritten") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a"), root, checks).promoted)
    assert(Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks).promoted)
    val m = Versioned.rollback(root)
    // the rollback IS version 3, pointing at v1's directory
    assert(m.version === 3 && m.path === "v00001")
    assert(Versioned.read(spark, root).count() === 1)
    // the chain shows all three publishes; v2's entry is untouched
    assert(Versioned.versions(root).map(m => (m.version, m.path))
      === Seq((1, "v00001"), (2, "v00002"), (3, "v00001")))
    // the rolled-back-from data is still time-travel readable
    assert(Versioned.readVersion(spark, root, 2).count() === 2)
    // the next promotion continues the chain with fresh data
    val r = Versioned.promote(docs(1L -> "a", 9L -> "i"), root, checks)
    assert(r.promoted && r.version === 4)
    assert(Versioned.read(spark, root).orderBy("doc_id").as[(Long, String)].collect()
      === Array(1L -> "a", 9L -> "i"))
  }

  test("readVersion time-travels through the manifest chain") {
    val root = freshRoot()
    for (i <- 1 to 3)
      assert(Versioned.promote(docs((1L to i.toLong).map(j => j -> s"d$j"): _*),
        root, checks).promoted)
    assert(Versioned.readVersion(spark, root, 1).count() === 1)
    assert(Versioned.readVersion(spark, root, 2).count() === 2)
    assert(Versioned.readVersion(spark, root, 3).count() === 3)
    val e = intercept[RuntimeException](Versioned.readVersion(spark, root, 9))
    assert(e.getMessage.contains("never published"))
  }

  test("targeted rollback re-publishes any retained version by number") {
    val root = freshRoot()
    for (i <- 1 to 3)
      assert(Versioned.promote(docs((1L to i.toLong).map(j => j -> s"d$j"): _*),
        root, checks).promoted)
    val m = Versioned.rollback(root, toVersion = 1)
    assert(m.version === 4 && m.path === "v00001")
    assert(Versioned.read(spark, root).count() === 1)
    intercept[IllegalArgumentException](Versioned.rollback(root, toVersion = 4))
  }

  test("vacuum keeps live + previous + the retention window, drops the rest") {
    val root = freshRoot()
    for (i <- 1 to 5)
      assert(Versioned.promote(docs((1L to i.toLong).map(j => j -> s"d$j"): _*),
        root, checks).promoted)
    val dropped = Versioned.vacuum(root, retainLast = 2)
    assert(dropped === Seq("v00001", "v00002", "v00003"))
    // `feed` is the change-feed log mirror — metadata, never vacuumed
    val dirs = new File(root).listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_ != "feed").sorted
    assert(dirs.toSeq === Seq("v00004", "v00005"))
    assert(Versioned.read(spark, root).count() === 5)
    // vacuumed versions stay in the chain and fail loudly, not blindly
    assert(Versioned.versions(root).map(_.version) === Seq(1, 2, 3, 4, 5))
    val e = intercept[IllegalArgumentException](Versioned.readVersion(spark, root, 1))
    assert(e.getMessage.contains("vacuumed"))
    // the one-step rollback target (previous = v00004) survived
    Versioned.rollback(root)
    assert(Versioned.read(spark, root).count() === 4)
    intercept[IllegalArgumentException](Versioned.vacuum(root, retainLast = 0))
  }

  // ---------- key-level MERGE publish (§2.2/22bh2) ----------

  private def baseDocs(n: Long) = docs((1L to n).map(j => j -> s"d$j"): _*)

  // every parquet file under the root's version dirs, name -> mtime
  private def allFiles(root: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(root)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("merge applies upserts and deletes, bit-equal to a whole-table rebuild") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(20), root, "doc_id", 8, checks).promoted)
    val drop = Seq((3L, "d3 v2", false), (5L, "x", true), (21L, "d21", false))
      .toDF("doc_id", "text", "del")
    val rep = Versioned.merge(drop, root, deleted = col("del"), checks = checks)
    assert(rep.merged && rep.version === 2)
    assert(rep.upserted === 1L && rep.inserted === 1L && rep.deleted === 1L)
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toSet
    val expect = ((1L to 20L).filterNot(_ == 5L)
      .map(j => j -> (if (j == 3L) "d3 v2" else s"d$j")) :+ (21L -> "d21")).toSet
    assert(got === expect)
    // the manifest's exact row count is maintained by the merge
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.rows) === Some(20L))
    // and equals what a whole-table rebuild would publish
    val rebuilt = freshRoot()
    assert(Versioned.promoteBucketed(expect.toSeq.toDF("doc_id", "text"),
      rebuilt, "doc_id", 8, checks).promoted)
    assert(Versioned.read(spark, rebuilt).as[(Long, String)].collect().toSet === got)
  }

  test("merge rewrites only touched buckets; every pre-existing file is byte-identical") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(64), root, "doc_id", 16, checks).promoted)
    val before = allFiles(root)
    val rep = Versioned.merge(Seq((7L, "d7 v2", false)).toDF("doc_id", "text", "del"),
      root, deleted = col("del"), checks = checks)
    assert(rep.merged)
    assert(rep.rewrittenBuckets.size < 16, "a 1-key drop must not touch every bucket")
    val after = allFiles(root)
    for ((path, mtime) <- before)
      assert(after.get(path).contains(mtime), s"merge mutated pre-existing file $path")
    // owner map mixes the two version directories
    val owner = Versioned.currentManifest(root).flatMap(_.buckets).get.owner
    assert(owner.contains("v00001") && owner.contains("v00002"))
    assert(Versioned.read(spark, root).count() === 64)
  }

  test("a mid-merge reader stays pinned to the old version; time travel crosses merges") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(10), root, "doc_id", 4, checks).promoted)
    val inFlight = Versioned.read(spark, root) // resolves the v1 manifest NOW
    assert(Versioned.merge(Seq((1L, "d1 v2", false), (2L, "x", true))
      .toDF("doc_id", "text", "del"), root, deleted = col("del")).merged)
    assert(inFlight.as[(Long, String)].collect().toSet
      === (1L to 10L).map(j => j -> s"d$j").toSet)
    assert(Versioned.readVersion(spark, root, 1).count() === 10)
    assert(Versioned.readVersion(spark, root, 2).count() === 9)
    // rollback re-publishes v1's owner map as version 3
    val m = Versioned.rollback(root, toVersion = 1)
    assert(m.version === 3)
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toSet
      === (1L to 10L).map(j => j -> s"d$j").toSet)
  }

  test("merge refusals: duplicate drop keys, plain live table, changed-rows gate, validation") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a"), root, checks).promoted)
    val e0 = intercept[RuntimeException](
      Versioned.merge(Seq((1L, "x", false)).toDF("doc_id", "text", "del"), root, col("del")))
    assert(e0.getMessage.contains("not bucketed"))

    val broot = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(10), broot, "doc_id", 4, checks).promoted)
    val dup = Seq((1L, "x", false), (1L, "y", true)).toDF("doc_id", "text", "del")
    val e1 = intercept[IllegalArgumentException](Versioned.merge(dup, broot, col("del")))
    assert(e1.getMessage.contains("duplicate"))

    // gate: 5 of 10 live keys move > 200 per mille — refused, pointer pinned
    val big = (1L to 5L).map(j => (j, s"d$j v2", false)).toDF("doc_id", "text", "del")
    val r1 = Versioned.merge(big, broot, col("del"), checks, maxChangedPerMille = Some(200L))
    assert(!r1.merged && r1.reason.exists(_.contains("merge gate")))
    assert(Versioned.currentManifest(broot).map(_.version) === Some(1))
    assert(Versioned.read(spark, broot).count() === 10)

    // validation: a null key in the staged rows is refused
    val bad = Seq((Option.empty[Long], Option("x"), false)).toDF("doc_id", "text", "del")
    val r2 = Versioned.merge(bad, broot, col("del"), checks)
    assert(!r2.merged && r2.reason.exists(_.contains("id_not_null")))
    assert(Versioned.currentManifest(broot).map(_.version) === Some(1))
    // no staging leftovers from any refusal
    val leftovers = new File(broot).listFiles().map(_.getName).filter(_.startsWith("_staging"))
    assert(leftovers.isEmpty, leftovers.toSeq)
  }

  test("a delete-only drop needs no content columns; a crashed merge's staging stays inert") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(10), root, "doc_id", 4, checks).promoted)
    // stale staging from a "crashed" merge attempt at the same version
    val stale = new File(root, "_staging_v00002_67890")
    stale.mkdirs()
    Files.write(new File(stale, "garbage").toPath, Array[Byte](1, 2, 3))
    val rep = Versioned.merge(
      Seq((4L, true), (6L, true)).toDF("doc_id", "del"), root, deleted = col("del"))
    assert(rep.merged && rep.deleted === 2L && rep.inserted === 0L && rep.upserted === 0L)
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toSet
      === (1L to 10L).filterNot(j => j == 4L || j == 6L).map(j => j -> s"d$j").toSet)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.rows) === Some(8L))
  }

  test("vacuum on a merged table keeps every directory a retained owner map references") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(40), root, "doc_id", 8, checks).promoted)
    for (v <- 2 to 4)
      assert(Versioned.merge(Seq((v.toLong, s"d$v v$v", false)).toDF("doc_id", "text", "del"),
        root, deleted = col("del")).merged)
    val live = Versioned.currentManifest(root).get
    val referenced = live.buckets.get.owner.filter(_.nonEmpty).distinct.toSet
    val dropped = Versioned.vacuum(root, retainLast = 1)
    assert(dropped.toSet.intersect(referenced).isEmpty,
      s"vacuum deleted live bucket data: ${dropped.toSet.intersect(referenced)}")
    // the live table still reads completely after vacuum
    assert(Versioned.read(spark, root).count() === 40)
  }

  test("compact collapses a merge chain into one directory; vacuum then reclaims the chain") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(30), root, "doc_id", 8, checks).promoted)
    for (v <- 2 to 4)
      assert(Versioned.merge(Seq((v.toLong, s"d$v v$v", false)).toDF("doc_id", "text", "del"),
        root, deleted = col("del")).merged)
    val before = Versioned.read(spark, root).as[(Long, String)].collect().toSet
    val spread = Versioned.currentManifest(root).get.buckets.get.owner.filter(_.nonEmpty).distinct
    assert(spread.size > 1, "fixture should leave the owner map spread over several dirs")

    val r = Versioned.compact(spark, root, checks)
    assert(r.promoted && r.version === 5)
    val owner = Versioned.currentManifest(root).get.buckets.get.owner
    assert(owner.filter(_.nonEmpty).distinct === Vector(r.path),
      "compaction must leave one owning directory")
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toSet === before)

    // one more merge on top of the compact version, then retention GC:
    // everything the retained owner maps don't reference goes away
    assert(Versioned.merge(Seq((99L, "d99", false)).toDF("doc_id", "text", "del"),
      root, deleted = col("del")).merged)
    val dropped = Versioned.vacuum(root, retainLast = 1)
    assert(dropped.toSet === Set("v00001", "v00002", "v00003", "v00004"), dropped)
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toSet
      === before + (99L -> "d99"))
    // pre-compact versions read as vacuumed, not as silent corruption
    val e = intercept[IllegalArgumentException](Versioned.readVersion(spark, root, 2))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("a publish that lost the race to another writer refuses instead of orphaning it") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(10), root, "doc_id", 4, checks).promoted)
    // two real merges on disjoint keys, overlapped: both resolve the
    // SAME live version and meet at the commit point before either
    // commits, so whichever commits second must refuse loudly —
    // silently renaming its manifest over the winner's would orphan
    // the winner's data.
    val d1 = Seq((1L, "d1 vA", false)).toDF("doc_id", "text", "del")
    val d2 = Seq((2L, "d2 vB", false)).toDF("doc_id", "text", "del")
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    def attempt(d: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Boolean]] {
        def call() = try Right(Versioned.merge(d, root, col("del")).merged)
        catch { case t: Throwable => Left(t) }
      })
    val meeting = Seams.meet("versioned.commit")(liveVersion(root))
    val results = try {
      val f1 = attempt(d1)
      val f2 = attempt(d2)
      Seq(f1.get(), f2.get())
    } finally Seams.disarm()
    pool.shutdown()
    assert(meeting.probes === Seq(Some(1), Some(1)),
      "both writers resolved v1 before either committed")
    val committed = results.count(_ == Right(true))
    val refused = results.collect { case Left(t) => t }
    assert(committed === 1 && refused.size === 1,
      s"exactly one writer commits, one refuses: $results")
    assert(refused.head.getMessage.contains("concurrent publish"), refused.head.getMessage)
    // the winner is fully readable and row-accounted; nothing orphaned
    val live = Versioned.currentManifest(root).get
    assert(Versioned.read(spark, root).count() === live.buckets.get.rows)
    for (d <- live.buckets.get.owner.filter(_.nonEmpty).distinct)
      assert(new File(root, d).exists())
    // serial replay of both drops (idempotent for the winner's) lands
    // the loser's effect cleanly against the new live version
    assert(Versioned.merge(d1, root, col("del")).merged)
    assert(Versioned.merge(d2, root, col("del")).merged)
    val all = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(all(1L) === "d1 vA" && all(2L) === "d2 vB")
  }

  test("merge with an added column widens the schema; old rows read null; old files untouched") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(20), root, "doc_id", 8, checks).promoted)
    val before = allFiles(root)
    val drop = Seq((3L, "d3 v2", "en", false), (21L, "d21", "de", false))
      .toDF("doc_id", "text", "lang", "del")
    val rep = Versioned.merge(drop, root, deleted = col("del"), checks = checks)
    assert(rep.merged && rep.upserted === 1L && rep.inserted === 1L)
    // the widening merge never rewrote a pre-existing file
    val after = allFiles(root)
    for ((path, mtime) <- before)
      assert(after.get(path).contains(mtime), s"evolving merge mutated $path")
    // full read: widened schema, old rows null-filled by name
    val got = Versioned.read(spark, root)
    assert(got.columns.toSeq === Seq("doc_id", "text", "lang"))
    val langs = got.select("doc_id", "lang").as[(Long, Option[String])].collect().toMap
    assert(langs(3L) === Some("en") && langs(21L) === Some("de"))
    assert(langs(5L) === None, "pre-evolution rows must read null for the added column")
    assert(got.count() === 21)
    // the point read returns the same widened shape from an OLD directory
    val lk = Versioned.lookup(spark, root, 10L)
    assert(lk.columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(lk.select("lang").as[Option[String]].head() === None)
    // a later merge may keep using the widened schema...
    assert(Versioned.merge(Seq((4L, "d4 v2", "fr", false)).toDF("doc_id", "text", "lang", "del"),
      root, col("del")).merged)
    // ...but silently DROPPING an existing column is refused (data loss,
    // not evolution); delete-only drops stay exempt
    val e = intercept[IllegalArgumentException](Versioned.merge(
      Seq((6L, "x", false)).toDF("doc_id", "text", "del"), root, col("del")))
    assert(e.getMessage.contains("missing table columns"))
    assert(Versioned.merge(Seq((2L, true)).toDF("doc_id", "del"), root, col("del")).merged)
    assert(Versioned.read(spark, root).count() === 20)
    // the change feed crosses the widening publish
    val diff = Versioned.diffVersions(spark, root, 1, 2, col("doc_id"), col("text"), "doc_id")
    assert(diff.filter(col("status") === "added").count() === 1L)
  }

  test("an oversized drop falls back to a shuffle join — bit-equal to the broadcast path") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(30), root, "doc_id", 8, checks).promoted)
    val drop = Seq((3L, "d3 v2", false), (31L, "d31", false), (5L, "x", true))
      .toDF("doc_id", "text", "del")
    // bound of 1 key forces the shuffle path for this 3-key drop
    val rep = Versioned.merge(drop, root, deleted = col("del"), checks = checks,
      maxBroadcastDropKeys = 1L)
    assert(rep.merged && rep.upserted === 1L && rep.inserted === 1L && rep.deleted === 1L)
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toSet
    val expect = ((1L to 30L).filterNot(_ == 5L)
      .map(j => j -> (if (j == 3L) "d3 v2" else s"d$j")) :+ (31L -> "d31")).toSet
    assert(got === expect)
  }

  test("a kill at every publish point leaves the old version live and the replay heals") {
    for (point <- Seq("staged", "claimed", "renamed", "chain")) {
      val root = freshRoot()
      assert(Versioned.promoteBucketed(baseDocs(12), root, "doc_id", 4, checks).promoted)
      val drop = Seq((1L, "d1 v2", false), (13L, "d13", false)).toDF("doc_id", "text", "del")
      Seams.crashAt(s"versioned.$point")
      try {
        val e = intercept[RuntimeException](Versioned.merge(drop, root, deleted = col("del")))
        assert(e.getMessage.contains("simulated crash"), s"$point: ${e.getMessage}")
      } finally Seams.disarm()
      // readers stay on the fully-consistent old version
      assert(Versioned.currentManifest(root).map(_.version) === Some(1), point)
      assert(Versioned.read(spark, root).count() === 12, point)
      // simulate the retry arriving AFTER the steal-slack window by
      // aging the stranded claim: a same-instant replay correctly
      // refuses a fresh foreign claim (it cannot tell a crash from a
      // live mid-commit writer — that refusal is CommitSlotSpec's pin)
      Option(new File(root).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("_claim_"))
        .foreach(_.setLastModified(System.currentTimeMillis() - 10000))
      // the replay commits cleanly over whatever the crash stranded
      // (staging orphan, held claim, renamed-but-unpublished dir,
      // orphan chain entry)
      assert(Versioned.merge(drop, root, deleted = col("del")).merged, point)
      val m = Versioned.read(spark, root).as[(Long, String)].collect().toMap
      assert(m(1L) === "d1 v2" && m(13L) === "d13" && m.size === 13, point)
    }
  }

  test("mergeRetry: racing writers on disjoint keys ALL eventually commit") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(10), root, "doc_id", 4, checks).promoted)
    val drops = Seq(
      Seq((1L, "d1 vA", false)).toDF("doc_id", "text", "del"),
      Seq((2L, "d2 vB", false)).toDF("doc_id", "text", "del"),
      Seq((11L, "d11", false)).toDF("doc_id", "text", "del"))
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(3)
    val futures = drops.map(d =>
      pool.submit(new java.util.concurrent.Callable[Versioned.MergeReport] {
        def call() = Versioned.mergeRetry(d, root, deleted = col("del"), attempts = 8)
      }))
    val reports = futures.map(_.get())
    pool.shutdown()
    assert(reports.forall(_.merged), reports)
    // three commits landed (order unknown), every drop's effect present
    assert(Versioned.currentManifest(root).map(_.version) === Some(4))
    val m = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(m(1L) === "d1 vA" && m(2L) === "d2 vB" && m(11L) === "d11" && m.size === 11)
  }

  test("mergeRetry forwards maxBroadcastDropKeys: the shuffle-join fallback survives a retry") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(30), root, "doc_id", 8, checks).promoted)
    val drop = Seq((3L, "d3 v2", false), (31L, "d31", false), (5L, "x", true))
      .toDF("doc_id", "text", "del")
    // bound of 1 key forces the shuffle path for this 3-key drop —
    // before r14 the retry wrapper silently dropped the bound
    val rep = Versioned.mergeRetry(drop, root, deleted = col("del"), checks = checks,
      maxBroadcastDropKeys = 1L)
    assert(rep.merged && rep.upserted === 1L && rep.inserted === 1L && rep.deleted === 1L)
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toSet
    val expect = ((1L to 30L).filterNot(_ == 5L)
      .map(j => j -> (if (j == 3L) "d3 v2" else s"d$j")) :+ (31L -> "d31")).toSet
    assert(got === expect)
  }

  test("refuseKeyConflicts: a same-key race refuses loudly naming the key; the winner's value survives") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(10), root, "doc_id", 4, checks).promoted)
    // two writers upsert the SAME key, overlapped (the :306 pattern —
    // both resolve live v1 before either commits): plain mergeRetry
    // would replay the loser last-writer-wins; with the conflict gate
    // the loser must refuse with a MergeConflictException naming key 1
    val dA = Seq((1L, "writer A", false)).toDF("doc_id", "text", "del")
    val dB = Seq((1L, "writer B", false)).toDF("doc_id", "text", "del")
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    def attempt(d: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Boolean]] {
        def call() = try Right(Versioned.mergeRetry(d, root, col("del"), attempts = 8,
          refuseKeyConflicts = true).merged)
        catch { case t: Throwable => Left(t) }
      })
    val meeting = Seams.meet("versioned.commit")(liveVersion(root))
    val results = try {
      val f1 = attempt(dA)
      val f2 = attempt(dB)
      Seq(f1.get(), f2.get())
    } finally Seams.disarm()
    pool.shutdown()
    assert(meeting.probes === Seq(Some(1), Some(1)),
      "both writers resolved v1 before either committed")
    val committed = results.count(_ == Right(true))
    val refused = results.collect { case Left(t) => t }
    assert(committed === 1 && refused.size === 1,
      s"exactly one writer commits, one refuses: $results")
    assert(refused.head.isInstanceOf[Versioned.MergeConflictException], refused.head)
    assert(refused.head.getMessage.contains("merge conflict") &&
      refused.head.getMessage.contains("1"), refused.head.getMessage)
    // the winner's committed value was never overwritten by a replay
    val m = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(m(1L) === "writer A" || m(1L) === "writer B")
    assert(m.size === 10)
  }

  test("refuseKeyConflicts: disjoint-key races still ALL commit") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(10), root, "doc_id", 4, checks).promoted)
    val drops = Seq(
      Seq((1L, "d1 vA", false)).toDF("doc_id", "text", "del"),
      Seq((2L, "d2 vB", false)).toDF("doc_id", "text", "del"),
      Seq((11L, "d11", false)).toDF("doc_id", "text", "del"))
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(3)
    val futures = drops.map(d =>
      pool.submit(new java.util.concurrent.Callable[Versioned.MergeReport] {
        def call() = Versioned.mergeRetry(d, root, deleted = col("del"), attempts = 8,
          refuseKeyConflicts = true)
      }))
    val reports = futures.map(_.get())
    pool.shutdown()
    assert(reports.forall(_.merged), reports)
    assert(Versioned.currentManifest(root).map(_.version) === Some(4))
    val m = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(m(1L) === "d1 vA" && m(2L) === "d2 vB" && m(11L) === "d11" && m.size === 11)
  }

  test("readRange consults the zone maps: fewer files, result equals the plain filtered read") {
    val root = freshRoot()
    // pre-cluster the base by the zone column so create-time zones are
    // disjoint per write task (the documented discipline)
    val base = baseDocs(400)
      .repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
    assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
      zoneCols = Seq("doc_id")).promoted)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.zones)
      === Some(Seq("doc_id")))
    // a merge far outside the base range: its files' zones sit at 1000+
    val drop = (1001L to 1010L).map(j => (j, s"d$j", false)).toDF("doc_id", "text", "del")
    assert(Versioned.merge(drop, root, deleted = col("del")).merged)
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    }
    val ranged = Versioned.readRange(spark, root, "doc_id", 1001L, 1005L)
    val plain = Versioned.read(spark, root)
      .filter(col("doc_id") >= 1001L && col("doc_id") <= 1005L)
    assert(ranged.as[(Long, String)].collect().toSet
      === plain.as[(Long, String)].collect().toSet)
    assert(ranged.count() === 5)
    val (fRanged, fPlain) = (filesScanned(ranged), filesScanned(plain))
    assert(fRanged < fPlain, s"zone maps must prune files: $fRanged vs $fPlain")
    // a window inside the base only touches base files
    val baseWindow = Versioned.readRange(spark, root, "doc_id", 10L, 20L)
    assert(baseWindow.count() === 11)
    assert(filesScanned(baseWindow) < fPlain)
    // an empty window reads nothing and errors nowhere
    assert(Versioned.readRange(spark, root, "doc_id", 5000L, 6000L).count() === 0)
    // a table WITHOUT zone maps degrades to the plain filtered scan
    val bare = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(20), bare, "doc_id", 4, checks).promoted)
    assert(Versioned.readRange(spark, bare, "doc_id", 5L, 9L).count() === 5)
  }

  test("readRangeAll intersects per-column prunes; predicates the maps miss only filter") {
    val root = freshRoot()
    // two integral columns, clustered on doc_id, zone-mapped on BOTH
    // (ts correlates with doc_id in this fixture — each create-time
    // file covers a narrow window of each)
    val base = (1L to 400L).map(j => (j, s"d$j", 1000L + j)).toDF("doc_id", "text", "ts")
      .repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
    assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
      zoneCols = Seq("doc_id", "ts")).promoted)
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    }
    // conjunction: doc_id window AND a ts window that bites harder
    val both = Versioned.readRangeAll(spark, root,
      Seq(("doc_id", 1L, 200L), ("ts", 1150L, 1160L)))
    val plain = Versioned.read(spark, root)
      .filter(col("doc_id").between(1L, 200L) && col("ts").between(1150L, 1160L))
    assert(both.as[(Long, String, Long)].collect().toSet
      === plain.as[(Long, String, Long)].collect().toSet)
    assert(both.count() === 11)
    val fBoth = filesScanned(both)
    val fOne = filesScanned(Versioned.readRange(spark, root, "doc_id", 1L, 200L))
    assert(fBoth <= fOne, s"intersection must not scan more than one prune: $fBoth vs $fOne")
    assert(fBoth < filesScanned(plain))
    // a predicate whose window covers everything prunes nothing on its
    // own — the other predicate still prunes and the filter stays exact
    val mixed = Versioned.readRangeAll(spark, root,
      Seq(("doc_id", 10L, 20L), ("ts", 1000L, 9999L)))
    assert(mixed.count() === 11)
  }

  test("lookup reads exactly one bucket partition of one version directory") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(64), root, "doc_id", 16, checks).promoted)
    assert(Versioned.merge(Seq((7L, "d7 v2", false)).toDF("doc_id", "text", "del"),
      root, deleted = col("del")).merged)
    // partition pruning happens at planning — inputFiles lists the
    // relation pre-filter, so assert on the EXECUTED scan's metrics
    def scannedParts(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numPartitions").value).sum
    }
    // a key whose bucket the merge rewrote reads from v00002...
    val hit = Versioned.lookup(spark, root, 7L)
    assert(hit.as[(Long, String)].collect().toSeq === Seq(7L -> "d7 v2"))
    assert(scannedParts(hit) === 1L, "lookup must scan exactly one bucket partition")
    assert(hit.queryExecution.executedPlan.toString.contains("bkt"),
      "the bucket partition filter must be in the plan")
    // ...an untouched key reads from v00001, same single-bucket shape
    val cold = Versioned.lookup(spark, root, 40L)
    assert(cold.as[(Long, String)].collect().toSeq === Seq(40L -> "d40"))
    assert(scannedParts(cold) === 1L)
    // a missing key is an empty result, not an error
    assert(Versioned.lookup(spark, root, 999999L).isEmpty)
  }

  // count Spark jobs started while `body` runs (the listener bus is
  // async — poll until the count settles)
  private def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1; var stable = 0; var waited = 0
      while (stable < 3 && waited < 10000) {
        Thread.sleep(100); waited += 100
        val cur = n.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the manifest records the widened schema; lookup plans driver-side and runs ONE job") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(32), root, "doc_id", 8, checks).promoted)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).flatMap(_.schemaB64).nonEmpty,
      "every bucketed publish must record the table schema in the manifest")
    // an evolving merge WIDENS the recorded schema
    assert(Versioned.merge(Seq((3L, "d3 v2", "en", false)).toDF("doc_id", "text", "lang", "del"),
      root, deleted = col("del")).merged)
    val b64v2 = Versioned.currentManifest(root).flatMap(_.buckets).flatMap(_.schemaB64)
    assert(b64v2.nonEmpty)
    assert(b64v2 !== Versioned.versions(root).head.buckets.flatMap(_.schemaB64),
      "the widening merge must re-record the schema")
    // the serving read: key hash computed driver-side, schema from the
    // manifest — the whole point lookup is exactly ONE Spark job (the
    // single-bucket scan); footer derivation or a one-row hash job
    // would each add one
    var got: Seq[(Long, String, Option[String])] = Nil
    val jobs = countJobs {
      got = Versioned.lookup(spark, root, 3L)
        .as[(Long, String, Option[String])].collect().toSeq
    }
    assert(got === Seq((3L, "d3 v2", Some("en"))))
    assert(jobs === 1, s"lookup must run exactly one job, ran $jobs")
    // an empty-bucket lookup plans entirely on the driver: ZERO jobs
    // (readers of a missing key pay nothing but the manifest read)
    val missJobs = countJobs {
      // key 999999 may or may not share a bucket — use a key whose
      // bucket is empty only if one exists; otherwise this still pins
      // the ≤1-job property
      val df = Versioned.lookup(spark, root, 999999L)
      assert(df.isEmpty)
    }
    assert(missJobs <= 1, s"missing-key lookup ran $missJobs jobs")
    // a manifest WITHOUT the schema field (pre-r14 table) degrades to
    // the footer path — same values, just more driver I/O
    val mf = new File(root, "_manifest.json")
    val stripped = new String(Files.readAllBytes(mf.toPath), "UTF-8")
      .replaceAll(""",\s*"schema"\s*:\s*"[^"]+"""", "")
    Files.write(mf.toPath, stripped.getBytes("UTF-8"))
    assert(Versioned.currentManifest(root).flatMap(_.buckets).flatMap(_.schemaB64).isEmpty)
    assert(Versioned.lookup(spark, root, 3L).as[(Long, String, Option[String])].collect()
      .toSeq === Seq((3L, "d3 v2", Some("en"))))
    assert(Versioned.read(spark, root).columns.toSeq === Seq("doc_id", "text", "lang"))
    // and the next merge re-records it
    assert(Versioned.merge(Seq((4L, "d4 v2", "fr", false)).toDF("doc_id", "text", "lang", "del"),
      root, deleted = col("del")).merged)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).flatMap(_.schemaB64).nonEmpty)
  }

  test("string and date zone maps prune files; non-comparable zone types are refused loudly") {
    val root = freshRoot()
    // lang clusters by construction: ids 1-200 'de', 201-400 'en' …,
    // range-partitioned on lang so create-time file zones are disjoint
    val base = (1L to 800L).map { j =>
      val lang = Seq("de", "en", "fr", "pt")(((j - 1) / 200L).toInt)
      (j, s"d$j", lang, java.sql.Date.valueOf(f"2026-${((j - 1) / 100L) + 1}%02d-15"))
    }.toDF("doc_id", "text", "lang", "day")
      .repartitionByRange(8, col("lang"), col("doc_id"))
      .sortWithinPartitions("lang", "doc_id")
    assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
      zoneCols = Seq("lang", "day")).promoted)
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    }
    // string range: pruned ≡ plain, strictly fewer files
    val ranged = Versioned.readRange(spark, root, "lang", "de", "de")
    val plain = Versioned.read(spark, root).filter(col("lang") === "de")
    assert(ranged.select("doc_id", "text", "lang").as[(Long, String, String)].collect().toSet
      === plain.select("doc_id", "text", "lang").as[(Long, String, String)].collect().toSet)
    assert(ranged.count() === 200)
    assert(filesScanned(ranged) < filesScanned(plain),
      "string zone maps must prune files")
    // date range via ISO-string bounds (binary order ≡ date order)
    val inMarch = Versioned.readRange(spark, root, "day", "2026-03-01", "2026-03-31")
    val plainMarch = Versioned.read(spark, root)
      .filter(col("day").between("2026-03-01", "2026-03-31"))
    assert(inMarch.count() === 100 && plainMarch.count() === 100)
    assert(filesScanned(inMarch) < filesScanned(plainMarch))
    // conjunctive string + integral prune: the nightly `lang AND id
    // window` report shape
    val both = Versioned.readRangeAll(spark, root,
      Seq(("lang", "en", "en"), ("doc_id", 201L, 250L)))
    assert(both.count() === 50)
    // the residual filter reaches the parquet scan as pushed filters —
    // row-group stats prune WITHIN surviving files too
    both.collect()
    val pushed = both.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(p =>
      p.contains("GreaterThanOrEqual(doc_id,201)") && p.contains("LessThanOrEqual(doc_id,250)")),
      s"range predicates must push into the scan, got: $pushed")
    // a double zone column would TRUNCATE bounds and over-prune —
    // refused at publish, loudly
    val bad = (1L to 10L).map(j => (j, j + 0.5)).toDF("doc_id", "score")
    val e = intercept[RuntimeException](
      Versioned.promoteBucketed(bad, freshRoot(), "doc_id", 2, zoneCols = Seq("score")))
    assert(e.getMessage.contains("zone maps support integral, string, and date"))
    // same guard on the standalone ZoneMaps
    val dir = Files.createTempDirectory("graft_zm_guard").toString
    bad.write.mode("overwrite").parquet(dir)
    val e2 = intercept[RuntimeException](
      graft.sources.ZoneMaps.buildStats(spark, dir, Seq("score")))
    assert(e2.getMessage.contains("zone maps support integral, string, and date"))
  }

  test("readAsOf resolves the latest publish at the instant; rollbacks read as publishes") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a"), root, checks).promoted)
    val t1 = Versioned.versions(root).last.ts
    assert(t1 > 0, "every publish must stamp its chain entry")
    Thread.sleep(5)
    assert(Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks).promoted)
    val t2 = Versioned.versions(root).last.ts
    Thread.sleep(5)
    Versioned.rollback(root, toVersion = 1)
    val t3 = Versioned.versions(root).last.ts
    assert(t1 < t2 && t2 < t3, "publish stamps must be monotone in this sequence")
    // between the stamps, the read is the version a reader saw then
    assert(Versioned.versionAsOf(root, t1) === Some(1))
    assert(Versioned.readAsOf(spark, root, t1).count() === 1)
    assert(Versioned.versionAsOf(root, t2) === Some(2))
    assert(Versioned.readAsOf(spark, root, t2).count() === 2)
    // an instant after the rollback reads the rolled-back-TO content,
    // resolved through the rollback's own chain entry (version 3)
    assert(Versioned.versionAsOf(root, t3 + 1) === Some(3))
    assert(Versioned.readAsOf(spark, root, t3 + 1)
      .as[(Long, String)].collect().toSeq === Seq(1L -> "a"))
    // the far future reads the live table; prehistory refuses loudly
    assert(Versioned.readAsOf(spark, root, Long.MaxValue).count() === 1)
    val e = intercept[RuntimeException](Versioned.readAsOf(spark, root, t1 - 1))
    assert(e.getMessage.contains("predates the first publish"))
    // a pre-stamp chain entry (ts stripped, the pre-r14 shape) counts
    // as predating everything: still resolvable, never an error
    val v1 = new File(root, "_v00001.json")
    val stripped = new String(Files.readAllBytes(v1.toPath), "UTF-8")
      .replaceAll(""",\s*"ts"\s*:\s*\d+""", "")
    Files.write(v1.toPath, stripped.getBytes("UTF-8"))
    assert(Versioned.versionAsOf(root, t1 - 1) === Some(1))
    assert(Versioned.readAsOf(spark, root, t1 - 1).count() === 1)
    // bucketed tables time-travel by timestamp the same way
    val broot = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(8), broot, "doc_id", 4, checks).promoted)
    val bt1 = Versioned.versions(broot).last.ts
    Thread.sleep(5)
    assert(Versioned.merge(Seq((9L, "d9", false)).toDF("doc_id", "text", "del"),
      broot, deleted = col("del")).merged)
    assert(Versioned.readAsOf(spark, broot, bt1).count() === 8)
    assert(Versioned.readAsOf(spark, broot, System.currentTimeMillis()).count() === 9)
    // change feed between instants: the merge's insert is the delta
    val feed = Versioned.diffAsOf(spark, broot, bt1, System.currentTimeMillis(),
      col("doc_id"), col("text"), "doc_id")
    assert(feed.filter(col("status") === "added").select("doc_id")
      .as[Long].collect().toSeq === Seq(9L))
    assert(feed.filter(col("status") =!= "unchanged").count() === 1)
    // describe: manifest-only facts of the live version
    val d = Versioned.describe(spark, broot).as[(String, String)].collect().toMap
    assert(d("version") === "2" && d("rows") === "9" && d("num_buckets") === "4")
    assert(d("owner_directories") === "2", "base dir + the merge's dir")
    assert(d("schema").contains("doc_id:bigint") && d("schema").contains("text:string"))
    assert(d("published_ts").toLong > bt1)
  }

  test("composite merge keys: (source, doc_id) publishes, merges, and looks up as a tuple") {
    val root = freshRoot()
    // the same doc_id under two sources — only a TUPLE key separates them
    val base = Seq(("web", 1L, "w1"), ("web", 2L, "w2"), ("pdf", 1L, "p1"),
      ("pdf", 2L, "p2"), ("pdf", 3L, "p3")).toDF("source", "doc_id", "text")
    assert(Versioned.promoteBucketed(base, root, "source,doc_id", 8, checks = Nil).promoted)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.keys)
      === Some(Seq("source", "doc_id")))
    // a drop touching ONE side of a shared doc_id: upsert (web,1),
    // delete (pdf,2), insert (web,9)
    val drop = Seq(("web", 1L, "w1 v2", false), ("pdf", 2L, null.asInstanceOf[String], true),
      ("web", 9L, "w9", false)).toDF("source", "doc_id", "text", "del")
    val rep = Versioned.merge(drop, root, deleted = col("del"))
    assert(rep.merged && rep.upserted === 1L && rep.inserted === 1L && rep.deleted === 1L)
    val got = Versioned.read(spark, root).as[(String, Long, String)].collect().toSet
    assert(got === Set(("web", 1L, "w1 v2"), ("web", 2L, "w2"), ("pdf", 1L, "p1"),
      ("pdf", 3L, "p3"), ("web", 9L, "w9")))
    // tuple point lookup: each (source, doc_id) resolves independently
    assert(Versioned.lookup(spark, root, Seq("web", 1L))
      .select("text").as[String].collect().toSeq === Seq("w1 v2"))
    assert(Versioned.lookup(spark, root, Seq("pdf", 1L))
      .select("text").as[String].collect().toSeq === Seq("p1"))
    assert(Versioned.lookup(spark, root, Seq("pdf", 2L)).isEmpty, "deleted tuple")
    // arity mismatch is loud
    val e = intercept[IllegalArgumentException](Versioned.lookup(spark, root, Seq("web")))
    assert(e.getMessage.contains("key value"))
    // duplicate TUPLES are refused; a shared doc_id across sources is
    // two distinct keys and sails through
    val dupTuple = Seq(("web", 2L, "a", false), ("web", 2L, "b", false))
      .toDF("source", "doc_id", "text", "del")
    val e2 = intercept[IllegalArgumentException](
      Versioned.merge(dupTuple, root, deleted = col("del")))
    assert(e2.getMessage.contains("duplicate"))
    val sharedId = Seq(("web", 3L, "w3", false), ("pdf", 3L, "p3 v2", false))
      .toDF("source", "doc_id", "text", "del")
    assert(Versioned.merge(sharedId, root, deleted = col("del")).merged)
    assert(Versioned.lookup(spark, root, Seq("pdf", 3L))
      .select("text").as[String].collect().toSeq === Seq("p3 v2"))
  }

  test("composite keys: the write-write conflict gate fires on the TUPLE, not a component") {
    // two racing writers on the SAME tuple: exactly one commits, the
    // loser refuses naming the tuple (the :466 pattern, composite)
    val root = freshRoot()
    val base = Seq(("web", 1L, "w1"), ("pdf", 1L, "p1"), ("web", 2L, "w2"))
      .toDF("source", "doc_id", "text")
    assert(Versioned.promoteBucketed(base, root, "source,doc_id", 4, checks = Nil).promoted)
    val dA = Seq(("web", 1L, "writer A", false)).toDF("source", "doc_id", "text", "del")
    val dB = Seq(("web", 1L, "writer B", false)).toDF("source", "doc_id", "text", "del")
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    def attempt(d: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Boolean]] {
        def call() = try Right(Versioned.mergeRetry(d, root, col("del"), attempts = 8,
          refuseKeyConflicts = true).merged)
        catch { case t: Throwable => Left(t) }
      })
    val meeting = Seams.meet("versioned.commit")(liveVersion(root))
    val results = try {
      val f1 = attempt(dA)
      val f2 = attempt(dB)
      Seq(f1.get(), f2.get())
    } finally Seams.disarm()
    assert(meeting.probes === Seq(Some(1), Some(1)),
      "both writers resolved v1 before either committed")
    val committed = results.count(_ == Right(true))
    val refused = results.collect { case Left(t) => t }
    assert(committed === 1 && refused.size === 1,
      s"exactly one writer commits, one refuses: $results")
    assert(refused.head.isInstanceOf[Versioned.MergeConflictException], refused.head)
    assert(refused.head.getMessage.contains("web"), refused.head.getMessage)
    // …while racers sharing only a key COMPONENT ((web,2) vs (pdf,1):
    // distinct tuples, overlapping doc_id space with the base) ALL
    // commit — the gate must not widen to per-component conflicts
    val dC = Seq(("web", 2L, "w2 v2", false)).toDF("source", "doc_id", "text", "del")
    val dD = Seq(("pdf", 1L, "p1 v2", false)).toDF("source", "doc_id", "text", "del")
    val meeting2 = Seams.meet("versioned.commit")(liveVersion(root))
    val results2 = try {
      val f3 = attempt(dC)
      val f4 = attempt(dD)
      Seq(f3.get(), f4.get())
    } finally Seams.disarm()
    pool.shutdown()
    assert(meeting2.probes === Seq(Some(2), Some(2)),
      "both writers resolved v2 before either committed")
    assert(results2.forall(_ == Right(true)),
      s"disjoint tuples must both commit: $results2")
    val m = Versioned.read(spark, root)
      .as[(String, Long, String)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(m(("web", 2L)) === "w2 v2" && m(("pdf", 1L)) === "p1 v2" && m.size === 3)
  }

  test("rebucket evolves the bucket count; reads, lookup, merge, and time travel survive") {
    val root = freshRoot()
    val base = baseDocs(40).withColumn("doc_id", col("doc_id").cast("long"))
    assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
      zoneCols = Seq("doc_id")).promoted)
    assert(Versioned.merge(Seq((3L, "d3 v2", false), (41L, "d41", false))
      .toDF("doc_id", "text", "del"), root, deleted = col("del")).merged)
    val before = Versioned.read(spark, root).as[(Long, String)].collect().toSet
    val r = Versioned.rebucket(spark, root, newBuckets = 16, checks)
    assert(r.promoted && r.version === 3)
    val spec = Versioned.currentManifest(root).flatMap(_.buckets).get
    assert(spec.numBuckets === 16 && spec.rows === 41L)
    assert(spec.owner.distinct === Vector("v00003"), "rebucket owns every bucket")
    assert(spec.zones === Seq("doc_id"), "the zone contract survives the rebucket")
    // content row-equal across the layout change
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toSet === before)
    // serving paths hash against the NEW contract
    assert(Versioned.lookup(spark, root, 3L)
      .select("text").as[String].collect().toSeq === Seq("d3 v2"))
    assert(Versioned.readRange(spark, root, "doc_id", 10L, 12L).count() === 3)
    // merge after the rebucket lands under the new count
    assert(Versioned.merge(Seq((42L, "d42", false)).toDF("doc_id", "text", "del"),
      root, deleted = col("del")).merged)
    assert(Versioned.lookup(spark, root, 42L).count() === 1)
    // time travel resolves each version under ITS OWN layout…
    assert(Versioned.readVersion(spark, root, 2).count() === 41)
    assert(Versioned.readVersion(spark, root, 2).as[(Long, String)].collect().toSet
      === before)
    // …and the change feed diffs ACROSS the rebucket (pure layout
    // change = all unchanged)
    val feed = Versioned.diffVersions(spark, root, 2, 3,
      col("doc_id"), col("text"), keyName = "doc_id")
    assert(feed.filter(col("status") =!= "unchanged").count() === 0)
    assert(feed.count() === 41)
  }

  test("zoneCluster merge staging: strictly fewer files scanned by a range read, bit-equal rows") {
    // a drop whose keys are SHUFFLED across the whole value range —
    // the case where default staging writes full-range zone bounds
    // per file and readRange stops pruning inside the merge's dir
    def base = (1L to 400L).map(j => j -> s"d$j").toDF("doc_id", "text")
      .repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
    def drop = (1L to 400L).filter(_ % 3 == 0).map(j => (j, s"d$j v2", false))
      .toDF("doc_id", "text", "del")
      .repartition(8) // deliberately value-shuffled staging input
    def build(zc: Boolean): String = {
      val root = freshRoot()
      assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
        zoneCols = Seq("doc_id")).promoted)
      assert(Versioned.merge(drop, root, deleted = col("del"), zoneCluster = zc).merged)
      root
    }
    val plainRoot = build(zc = false)
    val clusteredRoot = build(zc = true)
    def scanned(root: String): (Set[(Long, String)], Int) = {
      val df = Versioned.readRange(spark, root, "doc_id", 100L, 140L)
      (df.as[(Long, String)].collect().toSet, df.inputFiles.length)
    }
    val (rowsPlain, filesPlain) = scanned(plainRoot)
    val (rowsClustered, filesClustered) = scanned(clusteredRoot)
    assert(rowsClustered === rowsPlain, "clustering must be value-invisible")
    assert(rowsPlain.map(_._1) === (100L to 140L).toSet)
    assert(filesClustered < filesPlain,
      s"range-clustered merge staging must prune more files: $filesClustered vs $filesPlain")
  }

  test("maintain: the spread threshold trips a compact, vacuum reclaims, reads bit-equal") {
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(24), root, "doc_id", 8, checks).promoted)
    // a merge chain spreads the owner map across 5 directories
    for (i <- 1 to 4)
      assert(Versioned.merge(Seq((100L + i, s"x$i", false)).toDF("doc_id", "text", "del"),
        root, deleted = col("del")).merged)
    val before = Versioned.read(spark, root).as[(Long, String)].collect().toSet
    val spread0 = Versioned.currentManifest(root).flatMap(_.buckets)
      .get.owner.filter(_.nonEmpty).distinct.length
    assert(spread0 >= 3, s"the merge chain must spread the owner map (got $spread0)")
    // below the threshold: vacuum only, no compact
    val r0 = Versioned.maintain(spark, root, maxOwnerDirs = spread0)
    assert(!r0.compacted && r0.ownerDirsAfter === spread0)
    // above the threshold: compact publishes, gauge resets to 1,
    // vacuum reclaims the chain outside the retention window
    val r = Versioned.maintain(spark, root, maxOwnerDirs = spread0 - 1, retainLast = 1)
    assert(r.compacted && r.ownerDirsBefore === spread0 && r.ownerDirsAfter === 1)
    assert(r.compactVersion === Some(6))
    // the in-flight-reader grace set (live + previous + their owner
    // dirs) still references the chain: nothing reclaims YET
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toSet === before)
    // the next nightly merge rotates `previous` onto the compacted
    // version; THAT pass's vacuum reclaims the whole superseded chain
    assert(Versioned.merge(Seq((200L, "next", false)).toDF("doc_id", "text", "del"),
      root, deleted = col("del")).merged)
    val r2 = Versioned.maintain(spark, root, maxOwnerDirs = spread0 - 1, retainLast = 1)
    assert(!r2.compacted, "spread is 2 (compact dir + one merge) — under the threshold")
    assert(r2.vacuumed.nonEmpty, "the pre-compact chain reclaims once previous rotated")
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toSet
      === before + (200L -> "next"))
    // idempotent: another pass finds nothing to do
    val r3 = Versioned.maintain(spark, root, maxOwnerDirs = spread0 - 1, retainLast = 1)
    assert(!r3.compacted && r3.vacuumed.isEmpty)
  }

  test("maintenance keeps zone maps selective: compact/rebucket range-cluster their rewrite") {
    // build a zone-mapped table whose ASSEMBLED READ is value-shuffled
    // (a merge chain), then compact: without zone-clustered staging
    // the consolidated files would carry full-range bounds and the
    // range read would stop pruning after every maintenance pass
    val root = freshRoot()
    val base = (1L to 400L).map(j => j -> s"d$j").toDF("doc_id", "text")
      .repartition(8) // deliberately value-shuffled input
    assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
      zoneCols = Seq("doc_id"), zoneCluster = true).promoted)
    assert(Versioned.merge((1L to 400L).filter(_ % 7 == 0)
      .map(j => (j, s"d$j v2", false)).toDF("doc_id", "text", "del")
      .repartition(8), root, deleted = col("del"), zoneCluster = true).merged)
    def probe(): (Set[Long], Int) = {
      val df = Versioned.readRange(spark, root, "doc_id", 100L, 140L)
      (df.select("doc_id").as[Long].collect().toSet, df.inputFiles.length)
    }
    val (rows0, files0) = probe()
    assert(rows0 === (100L to 140L).toSet)
    val totalFiles = Versioned.read(spark, root).inputFiles.length
    assert(files0 < totalFiles, "the clustered build must prune")
    // compact consolidates; the rewrite is range-clustered, so the
    // narrow window still reads a small fraction of the files
    assert(Versioned.compact(spark, root, checks).promoted)
    val (rows1, files1) = probe()
    val total1 = Versioned.read(spark, root).inputFiles.length
    assert(rows1 === rows0)
    assert(files1 * 2 < total1,
      s"post-compact range read must stay selective: $files1 of $total1 files")
    // …and so is rebucket's
    assert(Versioned.rebucket(spark, root, 8, checks).promoted)
    val (rows2, files2) = probe()
    val total2 = Versioned.read(spark, root).inputFiles.length
    assert(rows2 === rows0)
    assert(files2 * 2 < total2,
      s"post-rebucket range read must stay selective: $files2 of $total2 files")
  }

  test("per-file key blooms: point lookups skip files; provably-absent keys read nothing") {
    // repartition(8) before the publish → every bucket directory
    // holds multiple files, the shape where a point probe pays for
    // files the key cannot be in
    val base = (1L to 400L).map(j => j -> s"d$j").toDF("doc_id", "text").repartition(8)
    val root = freshRoot()
    assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
      keyBloomBits = 1 << 14).promoted)
    val plain = freshRoot()
    assert(Versioned.promoteBucketed(base, plain, "doc_id", 4, checks).promoted)
    val withBloom = Versioned.lookup(spark, root, 123L)
    val noBloom = Versioned.lookup(spark, plain, 123L)
    assert(withBloom.as[(Long, String)].collect().toSeq === Seq(123L -> "d123"))
    assert(noBloom.as[(Long, String)].collect().toSeq === Seq(123L -> "d123"))
    assert(noBloom.inputFiles.length > 1, "the scenario needs multi-file buckets")
    assert(withBloom.inputFiles.length < noBloom.inputFiles.length,
      s"bloom must skip files: ${withBloom.inputFiles.length} vs ${noBloom.inputFiles.length}")
    // a provably-absent key plans an EMPTY frame — no files, no scan
    val absent = Versioned.lookup(spark, root, 999999L)
    assert(absent.isEmpty && absent.inputFiles.isEmpty)
    assert(absent.columns.toSeq === Seq("doc_id", "text"), "schema-preserved empty")
    // the bloom-pruned hit still runs as ONE job (the pruned scan)
    assert(countJobs { Versioned.lookup(spark, root, 77L).collect() } === 1)
    // merges REBUILD the sidecar on their staged files (the layout
    // carries bloomBits): an updated key reads its post-merge value
    // through the bloom path, and rebucket preserves the contract
    assert(Versioned.merge(Seq((123L, "d123 v2", false)).toDF("doc_id", "text", "del"),
      root, deleted = col("del")).merged)
    assert(Versioned.lookup(spark, root, 123L)
      .select("text").as[String].collect().toSeq === Seq("d123 v2"))
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.bloomBits)
      === Some(1 << 14))
    assert(Versioned.rebucket(spark, root, 8, checks).promoted)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.bloomBits)
      === Some(1 << 14))
    assert(Versioned.lookup(spark, root, 123L)
      .select("text").as[String].collect().toSeq === Seq("d123 v2"))
    // describe surfaces the contract
    val d = Versioned.describe(spark, root).as[(String, String)].collect().toMap
    assert(d("key_bloom_bits") === (1 << 14).toString)
  }

  test("publish stamps stay monotone when the wall clock regresses") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a"), root, checks).promoted)
    // simulate a clock regression: backdate nothing, FORWARD-date v1's
    // stamp so the next publish's wall-clock reads "earlier" than it —
    // the clamp must stamp v2 strictly after v1 anyway, or readAsOf
    // between the stamps would resolve a version that wasn't yet live
    val future = System.currentTimeMillis() + 3600_000L
    for (name <- Seq("_v00001.json", "_manifest.json")) {
      val f = new File(root, name)
      val bumped = new String(Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll(""""ts"\s*:\s*\d+""", s""""ts": $future""")
      Files.write(f.toPath, bumped.getBytes("UTF-8"))
    }
    assert(Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks).promoted)
    val chain = Versioned.versions(root)
    assert(chain.map(_.version) === Seq(1, 2))
    assert(chain(1).ts === future + 1,
      "v2's stamp must clamp to just above v1's forward-dated stamp")
    // as-of at v1's stamp still resolves v1; one tick later, v2
    assert(Versioned.versionAsOf(root, future) === Some(1))
    assert(Versioned.versionAsOf(root, future + 1) === Some(2))
  }

  test("an orphan chain entry from a chain-point crash is invisible to as-of resolution") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a"), root, checks).promoted)
    Seams.crashAt("versioned.chain")
    try {
      val e = intercept[RuntimeException](
        Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks))
      assert(e.getMessage.contains("simulated crash"))
    } finally Seams.disarm()
    // the crash landed AFTER the v2 chain-entry write but BEFORE the
    // live-pointer swap: a stamped entry exists for a version no
    // reader ever resolved
    assert(new File(root, "_v00002.json").exists())
    assert(Versioned.currentManifest(root).map(_.version) === Some(1))
    // as-of "now" must NOT time-travel to the orphan
    assert(Versioned.versionAsOf(root, System.currentTimeMillis() + 1000) === Some(1))
    assert(Versioned.readAsOf(spark, root, System.currentTimeMillis() + 1000).count() === 1)
    // the retry republishes version 2, overwriting the orphan; as-of
    // then resolves it normally
    Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_claim_"))
      .foreach(_.setLastModified(System.currentTimeMillis() - 10000))
    assert(Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks).promoted)
    assert(Versioned.versionAsOf(root, System.currentTimeMillis() + 1000) === Some(2))
    assert(Versioned.readAsOf(spark, root, System.currentTimeMillis() + 1000).count() === 2)
    // the FIRST publish crashing at the chain point is the stricter
    // case: an orphan _v00001.json with NO live manifest at all —
    // as-of must resolve NOTHING, exactly like read()
    val fresh = freshRoot()
    Seams.crashAt("versioned.chain")
    try intercept[RuntimeException](Versioned.promote(docs(1L -> "a"), fresh, checks))
    finally Seams.disarm()
    assert(new File(fresh, "_v00001.json").exists())
    assert(Versioned.currentManifest(fresh) === None)
    assert(Versioned.versionAsOf(fresh, System.currentTimeMillis() + 1000) === None)
    val e2 = intercept[RuntimeException](
      Versioned.readAsOf(spark, fresh, System.currentTimeMillis() + 1000))
    assert(e2.getMessage.contains("predates the first publish"))
  }

  test("merge refuses a legacy manifest's unsupported zone type BEFORE staging") {
    val root = freshRoot()
    val base = Seq((1L, 0.5, "a"), (2L, 1.5, "b"), (3L, 2.5, "c"))
      .toDF("doc_id", "score", "text")
    assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
      zoneCols = Seq("doc_id")).promoted)
    // simulate a pre-r14 table whose publish accepted a DOUBLE zone
    // column (bounds long-cast): rewrite the live manifest's zone list
    val mf = new File(root, "_manifest.json")
    val rigged = new String(Files.readAllBytes(mf.toPath), "UTF-8")
      .replace(""""zones": ["doc_id"]""", """"zones": ["score"]""")
    assert(rigged.contains(""""zones": ["score"]"""), "manifest rewrite must take")
    Files.write(mf.toPath, rigged.getBytes("UTF-8"))
    val drop = Seq((4L, 3.5, "d", false)).toDF("doc_id", "score", "text", "del")
    val e = intercept[RuntimeException](Versioned.merge(drop, root, deleted = col("del")))
    assert(e.getMessage.contains("republish"), e.getMessage)
    assert(e.getMessage.contains("score"), e.getMessage)
    // the refusal fired at ENTRY: no staging orphan was stranded
    val orphans = Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_staging_"))
    assert(orphans.isEmpty, orphans.map(_.getName).toSeq)
    assert(Versioned.currentManifest(root).map(_.version) === Some(1))
  }

  test("zoneFamily resolves the bound family from the recorded schema, never the literal") {
    val root = freshRoot()
    // sid is a STRING of numeric-looking values — binary order puts
    // '9' ABOVE '100'; routing its bounds to the BIGINT family would
    // compare those numerically and mis-prune
    val base = Seq((1L, "100", "a"), (2L, "9", "b"), (3L, "25", "c"))
      .toDF("doc_id", "sid", "text")
    assert(Versioned.promoteBucketed(base, root, "doc_id", 4, checks,
      zoneCols = Seq("doc_id", "sid")).promoted)
    assert(Versioned.zoneFamily(spark, root, "doc_id") === Some("long"))
    assert(Versioned.zoneFamily(spark, root, "sid") === Some("string"))
    assert(Versioned.zoneFamily(spark, root, "no_such_col") === None)
    // the string family read is exact under binary order: '100' ≤ sid
    // ≤ '25' admits '100' and '25' but NOT '9'
    assert(Versioned.readRange(spark, root, "sid", "100", "25")
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // an unbucketed table has no layout schema to resolve from
    val plain = freshRoot()
    assert(Versioned.promote(docs(1L -> "a"), plain, checks).promoted)
    assert(Versioned.zoneFamily(spark, plain, "doc_id") === None)
    // the path-based ZoneMaps resolver reads its manifest's own schema
    val zdir = Files.createTempDirectory("graft_zm_family").toString + "/t"
    graft.sources.ZoneMaps.writeClustered(base, zdir, numPartitions = 2,
      orderBy = "doc_id", statsCols = Seq("doc_id", "sid"))
    assert(graft.sources.ZoneMaps.boundFamily(spark, zdir, "doc_id") === Some("long"))
    assert(graft.sources.ZoneMaps.boundFamily(spark, zdir, "sid") === Some("string"))
    assert(graft.sources.ZoneMaps.boundFamily(spark, zdir, "nope") === None)
  }

  test("a stale staging directory from a crashed promotion never collides and vacuum sweeps it") {
    val root = freshRoot()
    assert(Versioned.promote(docs(1L -> "a"), root, checks).promoted)
    val stale = new File(root, "_staging_v00002_12345")
    stale.mkdirs()
    Files.write(new File(stale, "garbage").toPath, Array[Byte](1, 2, 3))
    // the retry stages under its own nonce — the orphan is inert
    val r = Versioned.promote(docs(1L -> "a", 2L -> "b"), root, checks)
    assert(r.promoted && r.version === 2)
    assert(Versioned.read(spark, root).count() === 2)
    assert(stale.exists())
    // a FRESH staging dir survives the default-window vacuum: it may
    // belong to an in-flight publish vacuum is racing — deleting its
    // files mid-stage could publish a silently incomplete version
    val keptFresh = Versioned.vacuum(root, retainLast = 2)
    assert(!keptFresh.contains("_staging_v00002_12345"), keptFresh)
    assert(stale.exists())
    // …but once it is older than the grace window, it is swept
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    stale.setLastModified(old)
    new File(stale, "garbage").setLastModified(old)
    // a crashed publish's stranded commit-slot claim ages out the same way
    val staleClaim = new File(root, "_claim_v00009")
    staleClaim.createNewFile()
    staleClaim.setLastModified(old)
    val dropped = Versioned.vacuum(root, retainLast = 2)
    assert(dropped.contains("_staging_v00002_12345"), dropped)
    assert(!stale.exists())
    assert(!staleClaim.exists())
    assert(Versioned.read(spark, root).count() === 2)
  }

  test("publish write parallelism follows data size, not the bucket count") {
    def bucketFiles(root: String): Map[String, Int] =
      new File(root, "v00001").listFiles().filter(_.getName.startsWith("bkt="))
        .map(b => b.getName -> b.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    // balanced tiny input: the rebalanced staging keeps the layout —
    // exactly one file per bucket directory (AQE coalesces the small
    // per-bucket partitions; nothing splits)
    val root = freshRoot()
    assert(Versioned.promoteBucketed(baseDocs(64), root, "doc_id", 8, checks).promoted)
    val balanced = bucketFiles(root)
    assert(balanced.nonEmpty && balanced.values.forall(_ == 1), balanced.toSeq.sorted)

    // a bucket far above the advisory partition size: the write SPLITS
    // it across tasks (> 1 file in the one bucket directory) instead
    // of funneling the publish through one task per bucket — and the
    // published rows read back bit-equal. numBuckets = 1 makes the
    // single bucket the hot one by construction.
    val conf = spark.conf
    val oldAdv = conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864b")
    try {
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      val rows = (1L to 4000L).map(i => (i, ("x" * 64) + i))
      val root2 = freshRoot()
      assert(Versioned.promoteBucketed(rows.toDF("doc_id", "text"), root2,
        "doc_id", 1, checks).promoted)
      val hot = bucketFiles(root2)
      assert(hot.getOrElse("bkt=0", 0) > 1,
        s"hot bucket wrote ${hot.mkString(",")} — write parallelism stayed pinned to the bucket count")
      val got = Versioned.read(spark, root2).as[(Long, String)].collect().toSet
      assert(got === rows.toSet)
    } finally conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", oldAdv)
  }
}
