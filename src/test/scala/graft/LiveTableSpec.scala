package graft

import org.apache.spark.sql.functions._

import graft.sources.{LiveTable, TableCompact, Warehouse}

/** The zero-downtime commit discipline of the view-over-generations
  * index layout (SURVEY.md §2.3/24e6, r15): the live name never
  * vanishes, in-flight probes survive a compaction, the
  * append-vs-compact race resolves without losing OR duplicating
  * rows, and a legacy (pre-view) table upgrades on its first compact. */
class LiveTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def withDb(body: String => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft_lt").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_lt LOCATION '$wh'")
    try body("graft_lt") finally spark.sql("DROP DATABASE IF EXISTS graft_lt CASCADE")
  }

  private def rows(table: String): Set[(Long, String)] =
    spark.table(table).select("id", "drop_id").as[(Long, String)].collect().toSet

  private def writeGen(phys: String, ids: Seq[Long], dropId: String): Unit =
    ids.map(i => (i, dropId)).toDF("id", "drop_id")
      .write.partitionBy("drop_id").bucketBy(2, "id").sortBy("id")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(phys)

  test("create publishes a view over generation 1; re-create stages g2 and swaps atomically") {
    withDb { db =>
      val t = s"$db.idx"
      LiveTable.createGeneration(spark, t)(writeGen(_, 1L to 4L, "base"))
      assert(LiveTable.resolve(spark, t) === s"$db.idx__g00001")
      assert(LiveTable.liveGen(spark, t) === Some(1))
      assert(rows(t).map(_._1) === (1L to 4L).toSet)
      // a reader that resolved g1 BEFORE the re-create still scans it
      val inFlight = spark.table(t)
      LiveTable.createGeneration(spark, t)(writeGen(_, 10L to 12L, "base"))
      assert(LiveTable.resolve(spark, t) === s"$db.idx__g00002")
      assert(rows(t).map(_._1) === (10L to 12L).toSet)
      assert(inFlight.count() === 4, "in-flight reader pinned to its generation")
      // superseded generations fall to vacuum, never to the swap
      assert(spark.catalog.tableExists(s"$db.idx__g00001"))
      assert(LiveTable.vacuumGens(spark, t, keepPrevious = false)
        === Seq(s"$db.idx__g00001"))
    }
  }

  test("compact commits mid-probe without tearing; a staged-point crash strands only an orphan") {
    withDb { db =>
      val t = s"$db.idx"
      LiveTable.createGeneration(spark, t)(writeGen(_, 1L to 8L, "base"))
      Warehouse.insertPartitionOverwrite(
        Seq((9L, "d0"), (10L, "d0")).toDF("id", "drop_id"), s"$db.idx__g00001")
      val preResolved = spark.table(t) // probes resolved BEFORE the compact
      val expected = rows(t)
      val st = TableCompact.compact(spark, t, Seq("id"), Seq("id"))
      assert(st.partitionsBefore === 2 && st.partitionsAfter === 1)
      // the pre-resolved probe still reads its generation, bit-equal
      assert(preResolved.select("id").as[Long].collect().toSet === expected.map(_._1))
      // new reads see the consolidated generation, same ids
      assert(rows(t).map(_._1) === expected.map(_._1))
      assert(rows(t).forall(_._2 == "base"), "append history consumed into base")
      // …and the consumed-drops record rode along with the commit
      assert(LiveTable.consumedDrops(spark, LiveTable.resolve(spark, t))
        === Set("base", "d0"))
      // a crash before the swap: live pointer unmoved, orphan staged
      Seams.crashAt("compact.staged")
      try intercept[RuntimeException](TableCompact.compact(spark, t, Seq("id"), Seq("id")))
      finally Seams.disarm()
      assert(LiveTable.liveGen(spark, t) === Some(2))
      assert(spark.catalog.tableExists(s"$db.idx__g00003"), "orphan staged generation")
      assert(TableCompact.heal(spark, t) === "dropped-stale-staging")
      assert(!spark.catalog.tableExists(s"$db.idx__g00003"))
    }
  }

  test("append-vs-compact race: a consumed drop is NOT replayed; an unconsumed one IS") {
    withDb { db =>
      val t = s"$db.idx"
      LiveTable.createGeneration(spark, t)(writeGen(_, 1L to 4L, "base"))
      // case 1 — the compact runs AFTER the insert landed (its entry
      // listing saw the partition, consumed it into base): the
      // append's post-check must see 'd1' in the consumed record and
      // NOT replay — a blind replay would duplicate the rows
      LiveTable.afterInsertHook = () => {
        LiveTable.afterInsertHook = () => ()
        TableCompact.compact(spark, t, Seq("id"), Seq("id"))
      }
      try LiveTable.insertPartitionOverwriteLive(
        Seq((5L, "d1"), (6L, "d1")).toDF("id", "drop_id"), t, "d1")
      finally LiveTable.afterInsertHook = () => ()
      assert(spark.table(t).count() === 6, "no duplication: consumed drop not replayed")
      assert(rows(t).forall(_._2 == "base"))
      // case 2 — the pointer moved to a generation whose consumed
      // record names 'd2' at a DIFFERENT file fingerprint (the
      // compaction staged an OLDER incarnation of the drop id; this
      // append's overwrite landed after its census — the race that a
      // name-only record would silently lose): the append must REPLAY
      // into the new live generation, and its rows win
      LiveTable.afterInsertHook = () => {
        LiveTable.afterInsertHook = () => ()
        writeGen(s"$db.idx__g00009", 1L to 6L, "base")
        spark.sql(s"ALTER TABLE $db.idx__g00009 SET TBLPROPERTIES " +
          s"('graft.consumed_drops_v2' = '${LiveTable.renderConsumed(
            Map("d2" -> "0123456789abcdef0123456789abcdef"))}')")
        LiveTable.swap(spark, t, 9)
      }
      try LiveTable.insertPartitionOverwriteLive(
        Seq((7L, "d2")).toDF("id", "drop_id"), t, "d2")
      finally LiveTable.afterInsertHook = () => ()
      assert(LiveTable.liveGen(spark, t) === Some(9))
      assert(spark.table(t).count() === 7, "stale-fingerprint drop replayed into the new live gen")
      assert(rows(t).exists(r => r._1 == 7L && r._2 == "d2"))
      // drop ids with commas and spaces round-trip the record exactly
      val fps = Map("a,b c" -> "ffff", "plain" -> "eeee")
      val rendered = LiveTable.renderConsumed(fps)
      spark.sql(s"ALTER TABLE $db.idx__g00009 SET TBLPROPERTIES " +
        s"('graft.consumed_drops_v2' = '$rendered')")
      assert(LiveTable.consumedDropFingerprints(spark, s"$db.idx__g00009") === fps)
    }
  }

  test("compact aborts when an EXISTING drop is overwritten mid-staging (not just new drops)") {
    withDb { db =>
      val t = s"$db.idx"
      LiveTable.createGeneration(spark, t)(writeGen(_, 1L to 4L, "base"))
      Warehouse.insertPartitionOverwrite(
        Seq((5L, "d1")).toDF("id", "drop_id"), s"$db.idx__g00001")
      // mid-staging, an ingest retry RE-PUBLISHES d1 with corrected
      // rows — same partition NAME, fresh part files; a name-only
      // re-check would commit and silently drop the correction
      Seams.onceAt("compact.staged") {
        Warehouse.insertPartitionOverwrite(
          Seq((5L, "d1"), (6L, "d1")).toDF("id", "drop_id"), s"$db.idx__g00001")
      }
      val e = try intercept[graft.sources.ConcurrentWriteException](
        TableCompact.compact(spark, t, Seq("id"), Seq("id")))
      finally Seams.disarm()
      assert(e.getMessage.contains("concurrent append"), e.getMessage)
      assert(e.getMessage.contains("d1"), e.getMessage)
      // the live view is untouched, the correction intact; the retry
      // (with a quiet table) consolidates everything including it
      assert(LiveTable.liveGen(spark, t) === Some(1))
      assert(spark.table(t).count() === 6)
      val st = TableCompact.compact(spark, t, Seq("id"), Seq("id"))
      assert(st.rows === 6L && st.partitionsAfter === 1)
      assert(spark.table(t).select("id").as[Long].collect().toSet === (1L to 6L).toSet)
    }
  }

  test("legacy pre-view table upgrades on first compact; a mid-upgrade crash heals") {
    withDb { db =>
      val t = s"$db.old"
      writeGen(t, 1L to 6L, "base") // the pre-r15 layout: a plain TABLE
      Warehouse.insertPartitionOverwrite(
        Seq((7L, "d0")).toDF("id", "drop_id"), t)
      assert(LiveTable.resolve(spark, t) === t, "legacy tables resolve to themselves")
      // the upgrade's one-time window: a crash between DROP TABLE and
      // CREATE VIEW leaves the name missing (loud) with the staged
      // generation complete — heal commits it
      Seams.crashAt("compact.swapped")
      try intercept[RuntimeException](TableCompact.compact(spark, t, Seq("id"), Seq("id")))
      finally Seams.disarm()
      assert(!spark.catalog.tableExists(t), "the documented one-time legacy window")
      assert(TableCompact.heal(spark, t) === "completed-swap")
      assert(LiveTable.resolve(spark, t) === s"$db.old__g00001")
      assert(spark.table(t).select("id").as[Long].collect().toSet === (1L to 7L).toSet)
      assert(rows(t).forall(_._2 == "base"))
      // from here on the table is view-based: compacts are zero-downtime
      val st = TableCompact.compact(spark, t, Seq("id"), Seq("id"))
      assert(st.partitionsAfter === 1)
      assert(LiveTable.liveGen(spark, t) === Some(2))
    }
  }

  test("compact with newBuckets evolves the layout; vacuum is claim-serialized") {
    withDb { db =>
      val t = s"$db.idx"
      LiveTable.createGeneration(spark, t)(writeGen(_, 1L to 20L, "base"))
      val st = TableCompact.compact(spark, t, Seq("id"), Seq("id"), newBuckets = Some(5))
      assert(st.rows === 20L)
      val phys = LiveTable.resolve(spark, t)
      assert(spark.table(phys).inputFiles.length <= 5)
      val nb = spark.sql(s"DESCRIBE FORMATTED $phys").collect()
        .find(r => Option(r.getString(0)).exists(_.trim == "Num Buckets"))
        .map(_.getString(1).trim.toInt)
      assert(nb === Some(5), "the new bucket contract is in the catalog")
      assert(spark.table(t).select("id").as[Long].collect().toSet === (1L to 20L).toSet)
      assert(TableCompact.vacuumGens(spark, t, keepPrevious = false)
        === Seq(s"$db.idx__g00001"))
    }
  }
}
