package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinhashIndex}

/** The persisted band index must be behavior-identical to the
  * recompute-everything `minhashNovel`, and must actually buy the
  * at-scale properties it exists for: a pruned corpus-side scan (no
  * text, no doc_id for the screen) with NO corpus-side exchange, and
  * append-incremental maintenance. Runs on the real sf0.001 docs. */
class MinhashIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
  private def corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
  private def batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  private def withIndex(nBuckets: Int)(body: String => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft_mh").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mh LOCATION '$wh'")
    try {
      MinhashIndex.create(corpus, col("text"), col("doc_id"), "graft_mh.idx", nBuckets)
      body("graft_mh.idx")
    } finally spark.sql("DROP DATABASE IF EXISTS graft_mh CASCADE")
  }

  test("screenNovel through the index is row-identical to minhashNovel") {
    withIndex(4) { table =>
      val viaIndex = MinhashIndex.screenNovel(spark, table, batch, col("text"), col("doc_id"))
      val recompute = Dedup.minhashNovel(corpus, batch, col("text"), col("doc_id"))
      assert(ids(viaIndex) === ids(recompute))
      assert(ids(viaIndex).nonEmpty && ids(viaIndex).size < batch.count())
    }
  }

  test("probe plan: corpus side is a pruned index scan with no exchange") {
    withIndex(4) { table =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val novel = MinhashIndex.screenNovel(spark, table, batch, col("text"), col("doc_id"))
        val plan = novel.queryExecution.executedPlan.toString
        // column pruning: the screen reads band columns only — doc_id
        // (and certainly no text) never leaves the index files
        val scanLine = plan.linesIterator.find(_.contains("graft_mh.idx")).getOrElse("")
        assert(scanLine.contains("band_id") && !scanLine.contains("doc_id"),
          s"index scan should prune to band columns:\n$scanLine")
        // the semi-join consumes the bucket layout: the index branch
        // (from its Sort down to the idx FileScan) has NO exchange —
        // only the drop-sized batch side shuffles, into the bucket
        // count
        assert(scanLine.contains("Bucketed: true"),
          s"index scan should use the bucket layout:\n$scanLine")
        val idxBranch = plan.substring(
          plan.lastIndexOf("Sort [__ix_band"), plan.indexOf("graft_mh.idx"))
        assert(!idxBranch.contains("Exchange"),
          s"index side of the band semi-join must not shuffle:\n$plan")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("append makes the index screen out the appended docs; a replay changes nothing") {
    withIndex(4) { table =>
      val before = MinhashIndex.screenNovel(spark, table, batch, col("text"), col("doc_id"))
      assert(ids(before).nonEmpty)
      MinhashIndex.append(batch, col("text"), col("doc_id"), table, nBuckets = 4,
        dropId = "d1")
      // every batch doc now collides with its own indexed bands
      val after = MinhashIndex.screenNovel(spark, table, batch, col("text"), col("doc_id"))
      assert(after.count() === 0)
      // a crash-retried (replayed) append overwrites its own drop_id
      // partition — band rows do NOT duplicate, attribution pairs hold
      val rowsOnce = spark.table(table).count()
      val pairsOnce = MinhashIndex.probePairs(spark, table, batch,
        col("text"), col("doc_id")).count()
      MinhashIndex.append(batch, col("text"), col("doc_id"), table, nBuckets = 4,
        dropId = "d1")
      assert(spark.table(table).count() === rowsOnce)
      assert(MinhashIndex.probePairs(spark, table, batch,
        col("text"), col("doc_id")).count() === pairsOnce)
    }
  }

  test("compact is zero-downtime: probes bit-equal at every crash point, never a missing table") {
    withIndex(4) { table =>
      import graft.sources.{LiveTable, TableCompact}
      def phys = LiveTable.resolve(spark, table)
      // three appended drops + base = 4 partitions of small files
      for ((d, i) <- batch.randomSplit(Array(1, 1, 1), seed = 7).zipWithIndex)
        MinhashIndex.append(d, col("text"), col("doc_id"), table, nBuckets = 4,
          dropId = s"d$i")
      assert(spark.sql(s"SHOW PARTITIONS $phys").count() === 4)
      val rowsBefore = spark.table(table).count()
      val filesBefore = spark.table(table).inputFiles.length
      val screenBefore = ids(
        MinhashIndex.screenNovel(spark, table, docs.limit(200), col("text"), col("doc_id")))
      val pairsBefore = MinhashIndex.probePairs(spark, table, docs.limit(200),
        col("text"), col("doc_id")).as[(Long, Long)].collect().toSet

      // a kill right after the atomic view swap IS a commit: the live
      // name never vanishes (the r14 DROP+RENAME window is gone) and
      // probes read the consolidated generation
      Seams.crashAt("compact.swapped")
      try {
        val e = intercept[RuntimeException](MinhashIndex.compact(spark, table))
        assert(e.getMessage.contains("simulated crash"), e.getMessage)
      } finally Seams.disarm()
      assert(spark.catalog.tableExists(table), "zero-downtime: the live name never vanishes")
      assert(phys.endsWith("__g00002"), s"the swap committed: $phys")
      assert(TableCompact.heal(spark, table) === "noop", "a post-swap crash IS a commit")

      // post-compact: one partition, fewer files, same rows, bit-equal probes
      assert(spark.sql(s"SHOW PARTITIONS $phys").collect().map(_.getString(0)).toSeq
        === Seq("drop_id=base"))
      assert(spark.table(table).count() === rowsBefore)
      assert(spark.table(table).inputFiles.length < filesBefore)
      assert(spark.table(table).inputFiles.length <= 4) // one file per bucket
      assert(ids(MinhashIndex.screenNovel(spark, table, docs.limit(200),
        col("text"), col("doc_id"))) === screenBefore)
      assert(MinhashIndex.probePairs(spark, table, docs.limit(200),
        col("text"), col("doc_id")).as[(Long, Long)].collect().toSet === pairsBefore)

      // a crash BEFORE the swap strands only an inert staged
      // generation: the live view is untouched, probes still see the
      // pre-compact rows (incl. the late append), and the next compact
      // heals the orphan away under its claim
      MinhashIndex.append(docs.limit(50), col("text"), col("doc_id"), table,
        nBuckets = 4, dropId = "late")
      val liveBefore = phys
      val withLate = spark.table(table).count()
      Seams.crashAt("compact.staged")
      try intercept[RuntimeException](MinhashIndex.compact(spark, table))
      finally Seams.disarm()
      assert(spark.catalog.tableExists(table))
      assert(phys === liveBefore, "a pre-swap crash must not move the live pointer")
      assert(spark.catalog.tableExists(s"${table}__g00003"), "staged orphan")
      assert(spark.table(table).count() === withLate)
      val stats = MinhashIndex.compact(spark, table)
      assert(stats.partitionsAfter === 1 && stats.droppedRows === 0L)
      assert(phys.endsWith("__g00003"), "the retry re-stages over the healed orphan")
      // superseded generations are reclaimed by an explicit vacuum
      // (previous kept by default for in-flight probes)
      val dropped = TableCompact.vacuumGens(spark, table)
      assert(dropped === Seq(s"${table}__g00001"), dropped)
      assert(TableCompact.vacuumGens(spark, table, keepPrevious = false)
        === Seq(s"${table}__g00002"))
      assert(spark.table(table).count() === withLate)
      // appends keep working after a compact (fresh drop ids)
      MinhashIndex.append(docs.limit(20), col("text"), col("doc_id"), table,
        nBuckets = 4, dropId = "post")
      assert(spark.sql(s"SHOW PARTITIONS $phys").count() === 2)
      // …and compact can EVOLVE the bucket count (the index rebucket):
      // same rows, same probe results, 8 buckets from here on
      val rowsPreReb = spark.table(table).count()
      val screenPreReb = ids(
        MinhashIndex.screenNovel(spark, table, docs.limit(200), col("text"), col("doc_id")))
      val reb = MinhashIndex.compact(spark, table, newBuckets = Some(8))
      assert(reb.rows === rowsPreReb)
      assert(spark.table(table).count() === rowsPreReb)
      assert(spark.table(table).inputFiles.length <= 8)
      assert(ids(MinhashIndex.screenNovel(spark, table, docs.limit(200),
        col("text"), col("doc_id"))) === screenPreReb)
    }
  }

  test("probePairs attributes each screened duplicate to an indexed doc") {
    withIndex(4) { table =>
      val pairs = MinhashIndex.probePairs(spark, table, batch, col("text"), col("doc_id"))
        .as[(Long, Long)].collect()
      val corpusIds = ids(corpus)
      val batchIds = ids(batch)
      assert(pairs.nonEmpty)
      assert(pairs.forall { case (c, b) => corpusIds(c) && batchIds(b) })
      // exactly the batch docs the screen rejected appear as pair targets
      val rejected = batchIds -- ids(
        MinhashIndex.screenNovel(spark, table, batch, col("text"), col("doc_id")))
      assert(pairs.map(_._2).toSet === rejected)
    }
  }
}
