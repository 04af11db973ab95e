package graft

import org.apache.spark.sql.functions._

import graft.dedup.{ClusterLedger, Components}

class ClusterLedgerSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_clusterledger").toString

  test("two-drop append equals full connectedComponents over the union, bit-equal") {
    // d1: {1,2} {3,4} {10 singleton via self-pair}
    val d1 = Seq((1L, 2L), (3L, 4L), (10L, 10L)).toDF("a", "b")
    // d2: bridges {1,2}+{3,4} through 2-3, attaches 20 to {3,4},
    // brand-new component {5,6}
    val d2 = Seq((2L, 3L), (5L, 6L), (4L, 20L)).toDF("a", "b")
    val path = tmp()
    ClusterLedger.append(path, d1, "a", "b")
    ClusterLedger.append(path, d2, "a", "b")
    val got = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val full = Components.connectedComponents(d1.union(d2), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got === full)
    assert(got.contains((10L, 10L))) // self-pair singleton survives untouched
    assert(got.contains((20L, 1L))) // transitive merge reaches the global min
    assert(got.contains((5L, 5L)) && got.contains((6L, 5L)))
  }

  test("append order does not matter and a replayed drop is a no-op") {
    val d1 = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val d2 = Seq((2L, 3L), (7L, 8L)).toDF("a", "b")
    val p12 = tmp(); val p21 = tmp()
    ClusterLedger.append(p12, d1, "a", "b")
    ClusterLedger.append(p12, d2, "a", "b")
    ClusterLedger.append(p21, d2, "a", "b")
    ClusterLedger.append(p21, d1, "a", "b")
    val l12 = ClusterLedger.labels(spark, p12).as[(Long, Long)].collect().toSet
    val l21 = ClusterLedger.labels(spark, p21).as[(Long, Long)].collect().toSet
    assert(l12 === l21)
    // replay the last drop: crash-retry shape — labels unchanged, the
    // merge sees only self-edges (no cluster moves, no new ids)
    val stats = ClusterLedger.append(p12, d2, "a", "b")
    assert(stats.relabeled === 0L)
    assert(stats.newIds === 0L)
    val replayed = ClusterLedger.labels(spark, p12).as[(Long, Long)].collect().toSet
    assert(replayed === l12)
  }

  // every bucket partition dir's parquet files across all append dirs,
  // keyed by (append dir, bkt=K), value = name:mtime fingerprints
  private def bucketFiles(path: String): Map[(String, String), Set[String]] = {
    val root = new java.io.File(path)
    root.listFiles().filter(f => f.isDirectory && f.getName.matches("a\\d{5}"))
      .flatMap { ad =>
        ad.listFiles().filter(d => d.isDirectory && d.getName.startsWith("bkt="))
          .map(d => (ad.getName, d.getName) ->
            d.listFiles().filter(_.getName.endsWith(".parquet"))
              .map(f => f.getName + ":" + f.lastModified()).toSet)
      }.toMap
  }

  test("appends rewrite only buckets holding an affected or new id") {
    val nb = 16
    // a wide first drop: 40 singletons spread across many buckets
    val d1 = (0L until 40L).map(i => (i, i)).toDF("a", "b")
    val path = tmp()
    val s1 = ClusterLedger.append(path, d1, "a", "b", numBuckets = nb)
    val before = bucketFiles(path)
    // second drop merges exactly two existing singletons
    val stats = ClusterLedger.append(path, Seq((7L, 23L)).toDF("a", "b"), "a", "b", numBuckets = nb)
    val after = bucketFiles(path)
    assert(stats.rewrittenBuckets.size < s1.rewrittenBuckets.size,
      "expected a strict subset of buckets rewritten")
    // every pre-existing file object is byte-for-byte untouched — the
    // second append staged its buckets into a NEW directory and only
    // the manifest's owner map moved
    for ((key, files) <- before)
      assert(after(key) === files, s"append mutated pre-existing files under $key")
    // untouched buckets still read from the first append's directory
    val m = ClusterLedger.readManifest(path).get
    for (b <- 0 until nb if !stats.rewrittenBuckets.contains(b) && s1.rewrittenBuckets.contains(b))
      assert(m.owner(b) === 1, s"untouched bucket $b changed owner")
    // and the labeling is still exactly the full recompute
    val got = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val full = Components.connectedComponents(
      d1.union(Seq((7L, 23L)).toDF("a", "b")), "a", "b").as[(Long, Long)].collect().toSet
    assert(got === full)
  }

  test("a crash between bucket staging and manifest swap is invisible and the retry heals") {
    val nb = 8
    val d1 = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val d2 = Seq((2L, 3L), (4L, 5L)).toDF("a", "b") // merges everything into {1..6}
    val path = tmp()
    ClusterLedger.append(path, d1, "a", "b", numBuckets = nb)
    val committed = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val manifest = new java.io.File(path, "_cluster_manifest.json")
    val preSwap = java.nio.file.Files.readAllBytes(manifest.toPath)
    ClusterLedger.append(path, d2, "a", "b", numBuckets = nb)
    // simulate a crash BEFORE the atomic manifest rename: the staged
    // append directory exists but the commit pointer still names the
    // old state
    java.nio.file.Files.write(manifest.toPath, preSwap)
    // a reader between crash and retry sees the old consistent labeling
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet === committed)
    // the retry reclaims the orphan staging dir and commits
    ClusterLedger.append(path, d2, "a", "b", numBuckets = nb)
    val healed = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val full = Components.connectedComponents(d1.union(d2), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(healed === full)
    // no duplicate ids survived the torn attempt
    val n = ClusterLedger.labels(spark, path).count()
    assert(n === ClusterLedger.labels(spark, path).select("id").distinct().count())
  }

  test("an empty drop is a committed no-op — including as the FIRST append") {
    val path = tmp()
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val s0 = ClusterLedger.append(path, empty, "a", "b", numBuckets = 8)
    assert(s0 === ClusterLedger.AppendStats(0L, 0L, Nil))
    // no ledger was created: no manifest, no unreadable empty parquet
    assert(intercept[RuntimeException](ClusterLedger.labels(spark, path))
      .getMessage.contains("no cluster ledger"))
    // a real append after the empty one works normally...
    ClusterLedger.append(path, Seq((1L, 2L)).toDF("a", "b"), "a", "b", numBuckets = 8)
    val before = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    assert(before === Set((1L, 1L), (2L, 1L)))
    // ...and a later empty drop (all-null pairs count too) is a no-op
    val s2 = ClusterLedger.append(path,
      Seq((Option.empty[Long], Option(9L))).toDF("a", "b"), "a", "b", numBuckets = 8)
    assert(s2 === ClusterLedger.AppendStats(0L, 0L, Nil))
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet === before)
  }

  test("vacuum deletes only unreferenced append directories and never changes the labeling") {
    val nb = 2 // few buckets so later appends fully supersede early dirs
    val path = tmp()
    ClusterLedger.append(path, Seq((1L, 2L)).toDF("a", "b"), "a", "b", numBuckets = nb)
    ClusterLedger.append(path, Seq((2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b", numBuckets = nb)
    ClusterLedger.append(path, Seq((3L, 4L), (11L, 12L)).toDF("a", "b"), "a", "b", numBuckets = nb)
    val before = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val m = ClusterLedger.readManifest(path).get
    val live = m.owner.filter(_ > 0).toSet.map((i: Int) => f"a$i%05d")
    val deleted = ClusterLedger.vacuum(path)
    assert(deleted.toSet.intersect(live).isEmpty, "vacuum deleted a live directory")
    val remaining = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("a\\d{5}")).map(_.getName).toSet
    assert(remaining === live)
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet === before)
  }

  test("an append that lost the race to another writer refuses instead of orphaning it") {
    val path = tmp()
    ClusterLedger.append(path, Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b", numBuckets = 8)
    // two overlapped appends resolve the same committed state and meet
    // at the commit point before either swaps the manifest; the second
    // committer must refuse loudly — renaming its owner map over the
    // winner's would orphan the winner's buckets
    val d1 = Seq((5L, 6L)).toDF("a", "b")
    val d2 = Seq((7L, 8L)).toDF("a", "b")
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    def attempt(d: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, ClusterLedger.AppendStats]] {
        def call() = try Right(ClusterLedger.append(path, d, "a", "b", numBuckets = 8))
        catch { case t: Throwable => Left(t) }
      })
    val meeting = Seams.meet("ledger.commit")(
      ClusterLedger.readManifest(path).map(_.appends))
    val results = try {
      val f1 = attempt(d1)
      val f2 = attempt(d2)
      Seq(f1.get(), f2.get())
    } finally Seams.disarm()
    pool.shutdown()
    assert(meeting.probes === Seq(Some(1), Some(1)),
      "both writers resolved append 1 before either committed")
    assert(results.count(_.isRight) === 1 && results.count(_.isLeft) === 1,
      s"exactly one append commits, one refuses: $results")
    results.collect { case Left(t) => t }.foreach(t =>
      assert(t.getMessage.contains("concurrent append"), t.getMessage))
    // the committed state is consistent, and serial replay of both
    // drops (a no-op for the winner's) recovers the full labeling
    ClusterLedger.append(path, d1, "a", "b", numBuckets = 8)
    ClusterLedger.append(path, d2, "a", "b", numBuckets = 8)
    val got = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val full = Components.connectedComponents(
      Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got === full)
  }

  test("lookup equals the filtered labeling for long and string ids, with zero jobs to build") {
    for ((ids, probes) <- Seq(
        (Seq((1L, 2L), (3L, 4L), (9L, 9L)).toDF("a", "b"), Seq[Any](1L, 2L, 4L, 9L, 77L)),
        (Seq(("x", "y"), ("p", "q"), ("solo", "solo")).toDF("a", "b"),
          Seq[Any]("x", "y", "q", "solo", "absent")))) {
      val path = tmp()
      ClusterLedger.append(path, ids, "a", "b", numBuckets = 4)
      val labels = ClusterLedger.labels(spark, path)
      for (k <- probes) {
        val (frame, jobs) = JobCount(spark)(ClusterLedger.lookup(spark, path, k))
        assert(jobs === 0, s"building lookup($k) ran $jobs jobs")
        assert(frame.collect().toSet === labels.filter(col("id") === lit(k)).collect().toSet,
          s"lookup($k)")
      }
    }
  }

  test("labels reads every owning directory with the recorded schema: zero jobs, rows equal the inferred read") {
    val path = tmp()
    ClusterLedger.append(path, Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b", numBuckets = 8)
    ClusterLedger.append(path, Seq((5L, 6L), (7L, 8L)).toDF("a", "b"), "a", "b", numBuckets = 8)
    assert(ClusterLedger.readManifest(path).get.owner.filter(_ > 0).distinct.size === 2,
      "the two appends must own different directories")
    val (frame, jobs) = JobCount(spark)(ClusterLedger.labels(spark, path))
    assert(jobs === 0, s"building labels ran $jobs jobs")
    val recorded = frame.as[(Long, Long)].collect().toSet
    assert(recorded === Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L),
      (5L, 5L), (6L, 5L), (7L, 7L), (8L, 7L)))
    // the same files under a manifest written before the schema was
    // recorded: labels falls back to footer inference
    val mf = new java.io.File(path, "_cluster_manifest.json").toPath
    val legacy = java.nio.file.Files.readString(mf).replaceAll(""",\s*"schema"\s*:\s*"[^"]*"""", "")
    java.nio.file.Files.writeString(mf, legacy)
    assert(ClusterLedger.readManifest(path).get.labelSchema.isEmpty)
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet === recorded)
  }

  test("appendRetry: racing writers ALL converge to connectedComponents of the union") {
    val path = tmp()
    ClusterLedger.append(path, Seq((1L, 2L)).toDF("a", "b"), "a", "b", numBuckets = 8)
    val drops = Seq(
      Seq((2L, 3L)).toDF("a", "b"),
      Seq((10L, 11L)).toDF("a", "b"),
      Seq((3L, 10L)).toDF("a", "b")) // bridges both racers' components
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(3)
    val futures = drops.map(d =>
      pool.submit(new java.util.concurrent.Callable[ClusterLedger.AppendStats] {
        def call() = ClusterLedger.appendRetry(path, d, "a", "b", numBuckets = 8,
          attempts = 8)
      }))
    futures.foreach(_.get()) // every writer eventually commits
    pool.shutdown()
    val got = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val full = Components.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got === full) // the semilattice converges regardless of interleaving
  }

  test("compact collapses the append chain to one directory; vacuum then reclaims it; lookup serves point reads") {
    val nb = 2 // few buckets so appends spread ownership
    val path = tmp()
    ClusterLedger.append(path, Seq((1L, 2L)).toDF("a", "b"), "a", "b", numBuckets = nb)
    ClusterLedger.append(path, Seq((2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b", numBuckets = nb)
    ClusterLedger.append(path, Seq((20L, 21L)).toDF("a", "b"), "a", "b", numBuckets = nb)
    val before = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val spread = ClusterLedger.readManifest(path).get.owner.filter(_ > 0).distinct
    assert(spread.size > 1, "fixture should spread ownership over several append dirs")

    val st = ClusterLedger.compact(spark, path)
    assert(st.rewrittenBuckets.nonEmpty)
    val owner = ClusterLedger.readManifest(path).get.owner
    assert(owner.filter(_ > 0).distinct === Vector(4),
      "compaction must leave one owning directory")
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet === before)
    // the whole superseded chain is now reclaimable
    val dropped = ClusterLedger.vacuum(path)
    assert(dropped === Seq("a00001", "a00002", "a00003"), dropped)
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet === before)

    // point lookup: one bucket partition of one owning directory
    def scannedParts(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numPartitions").value).sum
    }
    val hit = ClusterLedger.lookup(spark, path, 3L)
    assert(hit.as[(Long, Long)].collect().toSeq === Seq(3L -> 1L))
    assert(scannedParts(hit) === 1L, "lookup must scan exactly one bucket partition")
    assert(ClusterLedger.lookup(spark, path, 999L).isEmpty) // unseen id
  }

  test("compact(newBuckets) rebuckets the ledger: labels bit-equal, new contract enforced") {
    val path = tmp()
    ClusterLedger.append(path, Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b",
      numBuckets = 4)
    ClusterLedger.append(path, Seq((2L, 3L), (9L, 9L)).toDF("a", "b"), "a", "b",
      numBuckets = 4)
    val before = ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
    val st = ClusterLedger.compact(spark, path, newBuckets = Some(16))
    assert(st.relabeled === 0L && st.newIds === 0L)
    assert(ClusterLedger.readManifest(path).map(_.numBuckets) === Some(16))
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet === before)
    // point lookups hash under the NEW contract
    assert(ClusterLedger.lookup(spark, path, 9L).as[(Long, Long)].collect().toSeq
      === Seq((9L, 9L)))
    // appends must state the new count — the mismatch guard stays loud
    val e = intercept[IllegalArgumentException](
      ClusterLedger.append(path, Seq((20L, 21L)).toDF("a", "b"), "a", "b", numBuckets = 4))
    assert(e.getMessage.contains("numBuckets=16"))
    ClusterLedger.append(path, Seq((20L, 21L)).toDF("a", "b"), "a", "b", numBuckets = 16)
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
      === before ++ Set((20L, 20L), (21L, 20L)))
  }

  test("a mismatched bucket count is refused loudly, never silently orphaning rows") {
    val path = tmp()
    ClusterLedger.append(path, Seq((1L, 2L)).toDF("a", "b"), "a", "b", numBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      ClusterLedger.append(path, Seq((2L, 3L)).toDF("a", "b"), "a", "b", numBuckets = 4)
    }
    assert(e.getMessage.contains("numBuckets=8"))
    // the matching count still appends fine
    ClusterLedger.append(path, Seq((2L, 3L)).toDF("a", "b"), "a", "b", numBuckets = 8)
    assert(ClusterLedger.labels(spark, path).as[(Long, Long)].collect().toSet
      === Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("string ids work end-to-end (UTF-8 min-label order preserved)") {
    val d1 = Seq(("b", "c"), ("x", "y")).toDF("a", "b")
    val d2 = Seq(("a", "c")).toDF("a", "b") // new global min joins {b,c}
    val path = tmp()
    ClusterLedger.append(path, d1, "a", "b")
    ClusterLedger.append(path, d2, "a", "b")
    val got = ClusterLedger.labels(spark, path).as[(String, String)].collect().toSet
    assert(got === Set(("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")))
  }
}
