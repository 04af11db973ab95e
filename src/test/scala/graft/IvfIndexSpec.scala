package graft

import org.apache.spark.sql.functions._

import graft.queries.AnnParams
import graft.similarity.{IvfAnn, IvfIndex, Similarity}

/** The persisted IVF index must be behavior-identical to the
  * recompute-everything `annIvf` (same training determinism), must
  * ingest appends against the stored quantizer, and must actually buy
  * the at-scale property it exists for: a bucketed, exchange-free
  * cells scan at probe time. Runs on the real sf0.001 embeddings. */
class IvfIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Similarity.prepareQuantized(
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001"),
    col("embedding"), col("vec_id"))
  private def queries =
    corpus.filter(pmod(col("vec_id"), lit(AnnParams.QueryMod)) === 0)

  private val P = IvfIndex.Params(
    numCentroids = AnnParams.IvfCentroids, lloydIters = AnnParams.IvfLloydIters)

  private def withIndex(build: org.apache.spark.sql.DataFrame, nBuckets: Int)(
      body: String => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivf LOCATION '$wh'")
    try {
      IvfIndex.create(spark, build, "graft_ivf.idx", nBuckets, P)
      body("graft_ivf.idx")
    } finally spark.sql("DROP DATABASE IF EXISTS graft_ivf CASCADE")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("q_id"), col("neighbor_id"), col("rank").cast("long"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet

  test("probe is bit-identical to the in-memory annIvf") {
    withIndex(corpus, 4) { table =>
      val viaIndex = IvfIndex.probe(spark, table, queries,
        k = AnnParams.IvfK, nprobe = AnnParams.IvfNprobe)
      val recompute = IvfAnn.annIvf(corpus, queries, k = AnnParams.IvfK,
        numCentroids = AnnParams.IvfCentroids, nprobe = AnnParams.IvfNprobe,
        lloydIters = AnnParams.IvfLloydIters)
      assert(rows(viaIndex) === rows(recompute))
      assert(rows(viaIndex).nonEmpty)
    }
  }

  test("append assigns against the stored quantizer; appended vectors are findable") {
    val old = corpus.filter(pmod(col("vec_id"), lit(4)) =!= 1)
    val drop = corpus.filter(pmod(col("vec_id"), lit(4)) === 1)
    withIndex(old, 4) { table =>
      IvfIndex.append(spark, drop, table, dropId = "d1")
      // a crash-retried (replayed) append overwrites its own drop_id
      // partition — list rows do NOT duplicate
      IvfIndex.append(spark, drop, table, dropId = "d1")
      // probing WITH an appended vector must surface an exact copy of
      // itself... except probe excludes self-matches; instead verify
      // the appended rows landed in cells and are scored: a query
      // identical to an appended vector sees cos = 1.0 at rank 1
      val targetId = drop.agg(min("vec_id")).as[Long].head()
      val probeQ = drop.filter(col("vec_id") === targetId)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("e"), col("nrm"))
      val got = IvfIndex.probe(spark, table, probeQ, k = 3, nprobe = AnnParams.IvfNprobe)
        .filter(col("rank") === 1)
        .select("neighbor_id", "cos").as[(Long, Double)].head()
      assert(got._1 === targetId && math.abs(got._2 - 1.0) < 1e-9,
        s"appended vector should be its own nearest neighbor: $got")
      // and the cells table holds exactly old + drop
      assert(spark.table(s"${table}_cells").count() === corpus.count())
    }
  }

  test("driftStats flags a drifted append; rebalance splits only the hot cell and restores probe cost") {
    // planted structure: four tight axis clusters of 20 vectors each
    // (dim 64, unit spike on the cluster axis, deterministic noise on
    // axis+7 so later sub-cell seeds are diverse), then a drift batch
    // of 60 vectors ALL near axis 0, in five sub-modes on five noise
    // dims — the shape of a crawl source changing under a standing index
    def vec(axis: Int, noiseDim: Int, noise: Long): Array[Long] = {
      val e = Array.fill(64)(0L); e(axis) = 1000000L; e(noiseDim) = noise; e
    }
    // ids interleave the clusters (axis = id mod 4) so the build's
    // smallest-id seeds land in four DIFFERENT clusters
    val base = (0 until 80).map { i =>
      val axis = i % 4
      (i.toLong, vec(axis, axis + 7, ((i / 4) % 4).toLong * 200000L))
    }.toDF("vec_id", "e").withColumn("nrm", Similarity.dotQ(col("e"), col("e")))
    val drift = (100 until 160).map { i =>
      (i.toLong, vec(0, 7 + (i % 5), 800000L))
    }.toDF("vec_id", "e").withColumn("nrm", Similarity.dotQ(col("e"), col("e")))

    val wh = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_drift LOCATION '$wh'")
    try {
      IvfIndex.create(spark, base, "graft_drift.idx", 4,
        IvfIndex.Params(numCentroids = 4, lloydIters = 2))
      val atBuild = IvfIndex.driftStats(spark, "graft_drift.idx")
      assert(atBuild.rows === 80L && atBuild.deadRows === 0L)
      assert(atBuild.hhiPermille === atBuild.hhiPermilleAtBuild)

      IvfIndex.append(spark, drift, "graft_drift.idx", dropId = "drift1")
      val drifted = IvfIndex.driftStats(spark, "graft_drift.idx")
      // the gauge fires: list sizes concentrated, assignment quality down
      assert(drifted.rows === 140L)
      assert(drifted.hhiPermille > drifted.hhiPermilleAtBuild,
        s"drift should concentrate cells: $drifted")
      assert(drifted.meanCosMilli < drifted.meanCosMilliAtBuild,
        s"drift should lower assignment quality: $drifted")

      // the drifted query's probed cell before the split: huge
      def probedCellSize(q: Array[Long]): Long = {
        val cents = IvfIndex.centroids(spark, "graft_drift.idx")
          .select("c_id", "ce").as[(Long, Seq[Long])].collect()
        val best = cents.maxBy { case (cid, ce) =>
          val dot = ce.zip(q).map { case (a, b) => a * b }.sum
          (dot.toDouble / (math.sqrt(ce.map(x => x * x).sum.toDouble) *
            math.sqrt(q.map(x => x * x).sum.toDouble)), -cid)
        }._1
        spark.table("graft_drift.idx_cells")
          .join(IvfIndex.centroids(spark, "graft_drift.idx").select("c_id"),
            Seq("c_id"), "left_semi")
          .filter(col("c_id") === best).count()
      }
      val q = vec(0, 9, 800000L) // drift sub-mode i%5 == 2
      val sizeBefore = probedCellSize(q)
      assert(sizeBefore === 80L, s"drift batch should pile into the axis-0 cell: $sizeBefore")

      // snapshot the cells table's files: rebalance must only APPEND
      val cellsDir = new java.io.File(wh, "idx_cells")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      def files() = walk(cellsDir).filter(_.getName.startsWith("part-"))
        .map(f => f.getPath -> f.lastModified()).toMap
      val filesBefore = files()
      val untouchedCents = IvfIndex.centroids(spark, "graft_drift.idx")
        .filter(col("c_id") =!= 0L) // cells of axes 1-3 (seeded by ids 1,2,3)
        .as[(Long, Seq[Long], Long)].collect().toSet

      val st = IvfIndex.rebalance(spark, "graft_drift.idx",
        overfullFactor = 2, lloydIters = 2)
      assert(st.splitCells === 1L, s"only the hot cell splits: $st")
      assert(st.newCells >= 2L, s"the hot cell must split into several sub-cells: $st")
      assert(st.reassigned === 80L, s"only the hot cell's members re-assign: $st")
      // append-only publication: every pre-existing list file untouched
      val filesAfter = files()
      for ((name, mtime) <- filesBefore)
        assert(filesAfter.get(name).contains(mtime), s"rebalance rewrote $name")
      // untouched cells keep their exact centroid rows
      val centsAfter = IvfIndex.centroids(spark, "graft_drift.idx")
        .as[(Long, Seq[Long], Long)].collect().toSet
      assert(untouchedCents.subsetOf(centsAfter))

      // probe cost restored: the drifted query's cell shrank hard...
      val sizeAfter = probedCellSize(q)
      assert(sizeAfter < sizeBefore / 2,
        s"probed cell should shrink after rebalance: $sizeBefore -> $sizeAfter")
      // ...and recall is intact: a drifted query's nearest neighbour
      // (an exact-twin noise-class mate) still surfaces at rank 1
      val probeQ = Seq((9999L, vec(0, 9, 800000L))).toDF("vec_id", "e")
        .withColumn("nrm", Similarity.dotQ(col("e"), col("e")))
      val top = IvfIndex.probe(spark, "graft_drift.idx", probeQ, k = 3, nprobe = 1)
        .filter(col("rank") === 1).select("cos").as[Double].head()
      assert(top > 0.9999, s"twin neighbour should survive the split at nprobe=1: $top")
      // the split state is the new baseline; old list rows are dead
      val post = IvfIndex.driftStats(spark, "graft_drift.idx")
      assert(post.deadRows === 80L)
      assert(post.hhiPermille === post.hhiPermilleAtBuild)
      assert(post.hhiPermille < drifted.hhiPermille)
      // generation hygiene: the superseded quantizer generation is
      // reclaimable; the live one never is
      val dropped = IvfIndex.vacuumGens(spark, "graft_drift.idx")
      assert(dropped.exists(_.contains("centroids_g00001")), dropped)
      assert(IvfIndex.centroids(spark, "graft_drift.idx").count() > 0)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_drift CASCADE")
    }
  }

  test("a crash between the rebalanced quantizer's write and the pointer swap leaves the live index intact") {
    val base = (0 until 40).map { i =>
      val e = Array.fill(16)(0L); e(i % 4) = 1000000L; e(4 + i % 4) = 300000L
      (i.toLong, e)
    }.toDF("vec_id", "e").withColumn("nrm", Similarity.dotQ(col("e"), col("e")))
    val drift = (100 until 160).map { i =>
      val e = Array.fill(16)(0L); e(0) = 1000000L; e(8 + i % 3) = 800000L
      (i.toLong, e)
    }.toDF("vec_id", "e").withColumn("nrm", Similarity.dotQ(col("e"), col("e")))
    val wh = java.nio.file.Files.createTempDirectory("graft_ivf_crash").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfcr LOCATION '$wh'")
    try {
      IvfIndex.create(spark, base, "graft_ivfcr.idx", 2,
        IvfIndex.Params(numCentroids = 4, lloydIters = 1))
      IvfIndex.append(spark, drift, "graft_ivfcr.idx", dropId = "drift1")
      val probeQ = base.limit(3)
      val before = IvfIndex.probe(spark, "graft_ivfcr.idx", probeQ, k = 2, nprobe = 2)
        .collect().toSet
      val centsBefore = IvfIndex.centroids(spark, "graft_ivfcr.idx").collect().toSet
      // simulated crash: next-gen tables written, pointer NOT swapped
      Seams.crashAt("ivf.before-swap")
      val e = intercept[RuntimeException](
        IvfIndex.rebalance(spark, "graft_ivfcr.idx", overfullFactor = 2))
      assert(e.getMessage.contains("simulated crash"))
      Seams.disarm()
      // readers still see the OLD generation's quantizer, bit-equal —
      // the old SaveMode.Overwrite drop-then-recreate would have lost
      // the centroid table here, leaving the index unreadable
      assert(IvfIndex.centroids(spark, "graft_ivfcr.idx").collect().toSet === centsBefore)
      assert(IvfIndex.probe(spark, "graft_ivfcr.idx", probeQ, k = 2, nprobe = 2)
        .collect().toSet === before)
      // the retry commits; vacuumGens reclaims the crash's orphans +
      // the superseded generation
      val st = IvfIndex.rebalance(spark, "graft_ivfcr.idx", overfullFactor = 2)
      assert(st.splitCells >= 1L)
      IvfIndex.vacuumGens(spark, "graft_ivfcr.idx")
      assert(IvfIndex.probe(spark, "graft_ivfcr.idx", probeQ, k = 2, nprobe = 2)
        .collect().nonEmpty)
    } finally {
      Seams.disarm()
      spark.sql("DROP DATABASE IF EXISTS graft_ivfcr CASCADE")
    }
  }

  test("compact consolidates the append chain AND reclaims rebalance's dead rows; probes bit-equal") {
    val base = (0 until 40).map { i =>
      val e = Array.fill(16)(0L); e(i % 4) = 1000000L; e(4 + i % 4) = 300000L
      (i.toLong, e)
    }.toDF("vec_id", "e").withColumn("nrm", Similarity.dotQ(col("e"), col("e")))
    val drift = (100 until 160).map { i =>
      val e = Array.fill(16)(0L); e(0) = 1000000L; e(8 + i % 3) = 800000L
      (i.toLong, e)
    }.toDF("vec_id", "e").withColumn("nrm", Similarity.dotQ(col("e"), col("e")))
    val wh = java.nio.file.Files.createTempDirectory("graft_ivf_cp").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfcp LOCATION '$wh'")
    try {
      IvfIndex.create(spark, base, "graft_ivfcp.idx", 2,
        IvfIndex.Params(numCentroids = 4, lloydIters = 1))
      IvfIndex.append(spark, drift, "graft_ivfcp.idx", dropId = "drift1")
      assert(IvfIndex.rebalance(spark, "graft_ivfcp.idx", overfullFactor = 2)
        .splitCells >= 1L)
      val dead = IvfIndex.driftStats(spark, "graft_ivfcp.idx").deadRows
      assert(dead > 0L, "rebalance must have left dead rows to reclaim")
      val probeQ = base.limit(3)
      val before = IvfIndex.probe(spark, "graft_ivfcp.idx", probeQ, k = 2, nprobe = 2)
        .collect().toSet
      val filesBefore = spark.table("graft_ivfcp.idx_cells").inputFiles.length

      val st = IvfIndex.compact(spark, "graft_ivfcp.idx")
      assert(st.droppedRows === dead, s"compact must drop exactly the dead rows: $st")
      assert(st.partitionsBefore === 3 && st.partitionsAfter === 1, st) // base, drift1, rebalance
      assert(spark.sql("SHOW PARTITIONS " +
          graft.sources.LiveTable.resolve(spark, "graft_ivfcp.idx_cells"))
        .collect().map(_.getString(0)).toSeq === Seq("drop_id=base"))
      assert(IvfIndex.driftStats(spark, "graft_ivfcp.idx").deadRows === 0L)
      assert(spark.table("graft_ivfcp.idx_cells").inputFiles.length < filesBefore)
      assert(spark.table("graft_ivfcp.idx_cells").inputFiles.length <= 2)
      assert(IvfIndex.probe(spark, "graft_ivfcp.idx", probeQ, k = 2, nprobe = 2)
        .collect().toSet === before)
      // appends keep landing after the compact
      IvfIndex.append(spark, drift.limit(5)
        .select((col("vec_id") + 1000L).as("vec_id"), col("e"), col("nrm")),
        "graft_ivfcp.idx", dropId = "post")
      assert(spark.sql("SHOW PARTITIONS " +
          graft.sources.LiveTable.resolve(spark, "graft_ivfcp.idx_cells")).count() === 2)
    } finally spark.sql("DROP DATABASE IF EXISTS graft_ivfcp CASCADE")
  }

  test("probe plan: cells side is a bucketed scan with no exchange") {
    withIndex(corpus, 4) { table =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = IvfIndex.probe(spark, table, queries,
            k = AnnParams.IvfK, nprobe = AnnParams.IvfNprobe)
          .queryExecution.executedPlan.toString
        val scanLine = plan.linesIterator.find(_.contains("idx_cells")).getOrElse("")
        assert(scanLine.contains("Bucketed: true"),
          s"cells scan should use the bucket layout:\n$scanLine")
        // exactly ONE c_id exchange in the whole plan — the
        // query-batch side shuffling into the bucket count; a second
        // would mean the cells branch re-exchanged despite the layout
        val cIdExchanges = "Exchange hashpartitioning\\(c_id".r
          .findAllIn(plan).length
        assert(cIdExchanges === 1,
          s"expected exactly one probe-side c_id exchange, got $cIdExchanges:\n$plan")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
