package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ZERO-DOWNTIME compaction for the `drop_id`-partitioned
  * persisted-index family ([[graft.dedup.MinhashIndex]],
  * [[graft.text.SearchIndex]], [[graft.similarity.IvfIndex]],
  * [[graft.similarity.PqIndex]]).
  *
  * Nightly appends are idempotent dynamic partition overwrites — each
  * drop owns one `drop_id=<id>` partition directory. Correct, but a
  * year of drops is ~365 partitions of small files per index, each
  * costing a listing + parquet-footer fetches on EVERY probe; and
  * [[graft.similarity.IvfIndex.rebalance]]'s dead list rows were only
  * reclaimable by a full re-create. This is the maintenance pass
  * between the appends: rewrite the CURRENT rows as one consolidated
  * `drop_id=base` partition (one file per bucket again), preserving —
  * or, with `newBuckets`, EVOLVING — the table's bucket layout so
  * probes stay exchange-free and later appends keep landing in their
  * own partitions.
  *
  * Commit discipline ([[LiveTable]], r15 — the [[Versioned]] manifest
  * swap applied to catalog tables): the live name is a VIEW over one
  * physical generation table; the consolidated rows stage into the
  * NEXT generation (the live one untouched while the expensive write
  * runs) and ONE atomic `CREATE OR REPLACE VIEW` commits. Probes
  * running concurrently with a compaction are never torn and never
  * find the table missing — a probe reads whichever generation was
  * live when it resolved the view, and superseded generations are
  * retained until [[vacuumGens]] (previous kept by default, the
  * in-flight-reader grace set). Crash anywhere before the swap: the
  * staged generation is an inert orphan [[heal]] sweeps under the
  * next run's claim. Crash after: the compaction committed.
  *
  * Safety rails, under a [[CommitSlot]] claim (single compactor;
  * a crashed one's retry steals the stale claim):
  *
  *  - the live partition set is re-listed after staging — an append
  *    that landed mid-compact aborts the publish (its drop would
  *    otherwise be dropped by the swap); the append side additionally
  *    replays itself if IT lost the race
  *    ([[LiveTable.insertPartitionOverwriteLive]]);
  *  - ownership is re-verified immediately before the commit.
  *
  * Legacy upgrade: an index created before the view layout is a plain
  * TABLE; its first compaction stages generation 1 and converts the
  * name to a view with DROP TABLE + CREATE VIEW — a one-time window
  * where the name is missing (loud: probes fail by name, nothing
  * mis-ranks) that [[heal]] completes; every index created by the
  * r15+ create paths is a view from birth and never passes through
  * it.
  *
  * Probe results are bit-equal before/after by construction (same
  * rows, same layout) — each index's spec pins it, plus the
  * partition- and file-count assertions. */
object TableCompact {

  /** What a compaction did: live rows carried, rows dropped by the
    * index's filter (IVF dead rows), partitions and files before →
    * after. */
  final case class CompactStats(rows: Long, droppedRows: Long,
      partitionsBefore: Int, partitionsAfter: Int,
      filesBefore: Int, filesAfter: Int)

  private def claimFile(spark: SparkSession, table: String): java.io.File = {
    val (db, bare) = table.lastIndexOf('.') match {
      case -1 => (spark.catalog.currentDatabase, table)
      case i => (table.substring(0, i), table.substring(i + 1))
    }
    val loc = spark.catalog.getDatabase(db).locationUri
    val dir = if (loc.contains(":")) new java.io.File(new java.net.URI(loc).getPath)
      else new java.io.File(loc)
    dir.mkdirs()
    new java.io.File(dir, s"_compact_$bare")
  }

  private def numBuckets(spark: SparkSession, physical: String): Option[Int] =
    spark.sql(s"DESCRIBE FORMATTED $physical").collect()
      .find(r => Option(r.getString(0)).exists(_.trim == "Num Buckets"))
      .map(_.getString(1).trim.toInt)

  private def partitions(spark: SparkSession, physical: String): Set[String] =
    spark.sql(s"SHOW PARTITIONS $physical").collect().map(_.getString(0)).toSet

  private def dataFiles(spark: SparkSession, physical: String): Int =
    spark.table(physical).inputFiles.length

  /** Every existing generation number of `table`, ascending. */
  private def allGens(spark: SparkSession, table: String): Seq[Int] = {
    val (db, bare) = table.lastIndexOf('.') match {
      case -1 => (spark.catalog.currentDatabase, table)
      case i => (table.substring(0, i), table.substring(i + 1))
    }
    val genRe = (java.util.regex.Pattern.quote(bare) + "__g(\\d{5})").r
    spark.catalog.listTables(db).collect().map(_.name).toSeq.collect {
      case genRe(g) => g.toInt
    }.sorted
  }

  /** Repair a crashed compaction. Under the view layout the only
    * crash litter is staged generations the view never committed to —
    * dropped here. A legacy UPGRADE that crashed between its DROP
    * TABLE and CREATE VIEW left the name missing with the staged
    * generation complete — completed here (the staged generation is
    * fully written before the drop, so completing is always safe).
    * No-op otherwise. Returns what it did. */
  def heal(spark: SparkSession, table: String): String = {
    val gens = allGens(spark, table)
    if (!spark.catalog.tableExists(table)) {
      if (gens.isEmpty) "noop"
      else { // crashed legacy upgrade: commit the highest staged generation
        LiveTable.swap(spark, table, gens.max)
        "completed-swap"
      }
    } else {
      val live = LiveTable.liveGen(spark, table)
      val orphans = live match {
        case Some(g) => gens.filter(_ > g) // staged above the live pointer
        case None => gens // legacy TABLE: every generation is a crashed staging
      }
      orphans.foreach(g => spark.sql(s"DROP TABLE IF EXISTS ${LiveTable.gTable(table, g)}"))
      // pre-r15 staging-name leftovers
      val oldStaging = s"${table}__compacting"
      val hadOld = spark.catalog.tableExists(oldStaging)
      if (hadOld) spark.sql(s"DROP TABLE $oldStaging")
      if (orphans.nonEmpty || hadOld) "dropped-stale-staging" else "noop"
    }
  }

  /** Consolidate `table` (drop_id-partitioned, optionally bucketed) to
    * one `drop_id=base` partition holding exactly `filter(current
    * rows)`, committed zero-downtime via the [[LiveTable]] view swap.
    * `bucketCols`/`sortCols` restate the table's layout (they must
    * match the catalog's — the bucket count is read from it);
    * `newBuckets` additionally EVOLVES the bucket count (the index
    * family's rebucket: same rewrite, new layout contract — probes
    * hash against whichever generation they resolve). */
  def compact(spark: SparkSession, table: String,
      bucketCols: Seq[String], sortCols: Seq[String],
      filter: DataFrame => DataFrame = identity,
      newBuckets: Option[Int] = None): CompactStats = {
    val startedMs = System.currentTimeMillis()
    val claim = CommitSlot.acquire(claimFile(spark, table), startedMs)
      .getOrElse(throw new ConcurrentWriteException(
        s"another writer holds the compaction slot for $table — " +
          "compactions are single-writer; retry later"))
    try {
      heal(spark, table) // a crashed predecessor's leftovers, under the claim
      val phys = LiveTable.resolve(spark, table)
      val legacy = phys == table
      val nextGen = LiveTable.liveGen(spark, table).map(_ + 1).getOrElse(1)
      val staging = LiveTable.gTable(table, nextGen)
      val nb = newBuckets.orElse(numBuckets(spark, phys))
      val parts0 = partitions(spark, phys)
      // the entry FILE census, per drop: the re-check below compares
      // file sets (an idempotent re-publish of an EXISTING drop id
      // changes files but not partition names — a name-only compare
      // would miss it and the swap would silently drop the new rows),
      // and the per-drop fingerprints ride into the staged
      // generation's consumed-drops record for the append side's
      // replay decision
      val fps0 = LiveTable.dropFingerprints(spark, phys)
      val filesBefore = dataFiles(spark, phys)
      val cur = spark.table(phys)
      val before = cur.count()
      val kept = filter(cur)
      val dataCols = kept.columns.filter(_ != "drop_id").toSeq
      val rows = kept.count()
      val flat = kept
        .select(dataCols.map(col) :+ lit("base").as("drop_id"): _*)
      // a bucketed write emits one file per (task × bucket); compaction
      // exists to get back to ONE file per bucket, so cluster each
      // bucket's rows into one task first (repartition's hash IS the
      // bucket hash — same Murmur3-pmod); non-bucketed ledgers collapse
      // to a single file
      val staged = (nb, bucketCols) match {
        case (Some(n), cs @ (_ +: _)) => flat.repartition(n, cs.map(col): _*)
        case _ => flat.coalesce(1)
      }
      val w0 = staged.write.partitionBy("drop_id")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
      val w = (nb, bucketCols) match {
        case (Some(n), c +: rest) =>
          val bw = w0.bucketBy(n, c, rest: _*)
          sortCols match {
            case s +: srest => bw.sortBy(s, srest: _*)
            case _ => bw
          }
        case _ => w0
      }
      // execute the staging write with bucketed READING disabled: the
      // source scan otherwise claims the repartition's required
      // distribution (same hash, same count) and the planner elides the
      // exchange, but the multi-partition-dir scan does not actually
      // execute bucket-aligned — tasks hold mixed buckets and the write
      // splits one file per (task × bucket) instead of one per bucket
      val bucketingKey = "spark.sql.sources.bucketing.enabled"
      val oldBucketing = spark.conf.getOption(bucketingKey)
      spark.conf.set(bucketingKey, "false")
      try w.saveAsTable(staging)
      finally oldBucketing match {
        case Some(v) => spark.conf.set(bucketingKey, v)
        case None => spark.conf.unset(bucketingKey)
      }
      // record WHAT the staging consumed — each entry-census drop id
      // with the file fingerprint it was consumed AT — as a property
      // of the new generation, committed with it by the swap.
      // [[LiveTable.insertPartitionOverwriteLive]] compares its own
      // just-written fingerprint against this record: equal = "my
      // rows are in base, don't replay"; different or absent =
      // "replay" — the disambiguation that stops a replayed append
      // from duplicating consumed rows AND stops an overwritten drop
      // from being silently lost. Ids are base64-coded: arbitrary
      // drop ids (commas, spaces) round-trip exactly.
      spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES " +
        s"('graft.consumed_drops_v2' = '${LiveTable.renderConsumed(fps0)}')")
      // fault point between the staging write and the file-census
      // re-check (a crash, or a concurrent append/overwrite)
      CommitSlot.at("compact.staged")
      // an append that committed while we staged — a NEW partition or
      // an overwrite of an existing one (fresh part-file names either
      // way) — owns rows the staged generation lacks; swapping would
      // silently drop them
      val fps1 = LiveTable.dropFingerprints(spark, phys)
      if (fps1 != fps0) {
        spark.sql(s"DROP TABLE IF EXISTS $staging")
        throw new ConcurrentWriteException(
          s"concurrent append detected on $table while compacting " +
            s"(drop census moved: ${fps0.size} -> ${fps1.size} drops, " +
            s"changed: ${(fps1.toSet diff fps0.toSet).map(_._1).mkString(", ")}) — " +
            "re-run the compaction")
      }
      if (!claim.owned())
        throw new ConcurrentWriteException(
          s"compaction claim for $table was stolen mid-stage — abandoning")
      if (legacy) {
        // one-time upgrade of a pre-view index: the only remaining
        // missing-name window, completed by heal on the retry
        spark.sql(s"DROP TABLE $table")
        CommitSlot.at("compact.swapped") // the one-time legacy window
        LiveTable.swap(spark, table, nextGen)
      } else {
        LiveTable.swap(spark, table, nextGen) // THE commit — one atomic op
        CommitSlot.at("compact.swapped") // after this point the compaction has landed
      }
      val filesAfter = dataFiles(spark, staging)
      CompactStats(rows, before - rows, parts0.size, partitions(spark, staging).size,
        filesBefore, filesAfter)
    } finally claim.release()
  }

  /** Reclaim superseded generation tables (keep the live one and, by
    * default, its predecessor for in-flight probes) — run from
    * maintenance, serialized against compactions by the same claim. */
  def vacuumGens(spark: SparkSession, table: String,
      keepPrevious: Boolean = true): Seq[String] = {
    val claim = CommitSlot.acquire(claimFile(spark, table), System.currentTimeMillis())
      .getOrElse(throw new ConcurrentWriteException(
        s"another writer holds the compaction slot for $table — retry the vacuum later"))
    try LiveTable.vacuumGens(spark, table, keepPrevious)
    finally claim.release()
  }
}
