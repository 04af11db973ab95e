package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Similarity.{cosineQ, dotQ}

/** Persisted IVF index — the build-once / probe-per-batch form of
  * [[IvfAnn.annIvf]], mirroring [[graft.dedup.MinhashIndex]] on the
  * similarity side.
  *
  * `annIvf` retrains the coarse quantizer and re-assigns the WHOLE
  * corpus on every call; correct for one-shot jobs, but a serving or
  * recurring-batch pipeline probes the same corpus thousands of
  * times. The index materializes:
  *
  *   - `<table>_cells`: the inverted lists (c_id, vec_id, e, nrm),
  *     bucketed AND bucket-sorted on c_id — the probe join reads
  *     them pre-partitioned, so the corpus side never exchanges
  *     again (the §2.2c bucketed-join argument: one shuffle paid at
  *     build time replaces a corpus shuffle per probe);
  *   - `<table>_centroids_g%05d`: the trained quantizer (c_id, ce,
  *     cnrm), numCentroids rows — broadcast whole at probe time. The
  *     generation suffix + an atomically-swapped pointer file make
  *     quantizer publication crash-safe (see the note at
  *     [[GenPointer]]); resolve through [[centroids]].
  *
  * Probes are incremental-friendly: new vectors [[append]] by
  * assigning against the STORED centroids (no retrain) into the same
  * bucket layout — ingest cost proportional to the drop, not the
  * corpus. Training determinism ([[IvfAnn.centroids]]: deterministic
  * seeds, floor-mean, checkpointed rounds) makes [[probe]]
  * row-identical to `annIvf` with the same params — `IvfIndexSpec`
  * asserts bit-equality and the exchange-free cells scan.
  */
object IvfIndex {

  /** Training parameters, fixed at [[create]] time; probes only need
    * the table names. */
  final case class Params(numCentroids: Int, lloydIters: Int = 2)

  /** Index health, current vs the persisted build-time baseline —
    * the gauge behind "retrain when drift warrants". `hhiPermille` is
    * the Herfindahl concentration of inverted-list sizes ×1000 (a
    * balanced index sits near 1000/cells; a drifted append piles into
    * few cells and pushes it up — probe cost concentrates the same
    * way). `meanCosMilli` is the mean per-vector ⌊1000·cos(v, its
    * centroid)⌋ — assignment quality; appended batches the build
    * never saw score visibly lower. `deadRows` counts list rows whose
    * cell id has no live centroid (tombstoned by [[rebalance]] —
    * space reclaimable by re-running [[create]]). All integers are
    * exact and order-independent (per-row milli floors summed), so
    * the report is bit-stable across runs. */
  final case class DriftReport(
      rows: Long, cells: Long, hhiPermille: Long, meanCosMilli: Long,
      rowsAtBuild: Long, cellsAtBuild: Long, hhiPermilleAtBuild: Long,
      meanCosMilliAtBuild: Long, deadRows: Long)

  /** What [[rebalance]] did: which over-full cells split, how many
    * sub-cells replaced them, how many vectors were re-assigned. */
  final case class RebalanceStats(splitCells: Long, newCells: Long, reassigned: Long)

  private def cellsTable(table: String) = s"${table}_cells"
  private def centsTable(table: String, gen: Int) = f"${table}_centroids_g$gen%05d"
  private def metaTable(table: String, gen: Int) = f"${table}_meta_g$gen%05d"

  /** The quantizer state (centroids + drift baseline) is GENERATION-
    * versioned: gen-suffixed tables, committed by one atomic rename of
    * a pointer file in the owning database's directory. [[rebalance]]
    * (and a re-[[create]]) writes the NEXT generation's centroid and
    * meta tables completely, then swaps the pointer — a crash anywhere
    * before the swap leaves readers on the previous generation's
    * intact quantizer (the orphaned next-gen tables are reclaimed by
    * [[vacuumGens]]); the old non-atomic SaveMode.Overwrite
    * (drop-then-recreate) could lose the centroid table entirely. */
  private def readGen(spark: SparkSession, table: String): Option[Int] =
    GenPointer.read(spark, table, "ivf")

  private def liveGen(spark: SparkSession, table: String): Int =
    GenPointer.live(spark, table, "ivf")

  private def swapPointer(spark: SparkSession, table: String, gen: Int): Unit =
    GenPointer.swap(spark, table, "ivf", gen)

  /** The live generation's trained quantizer (c_id, ce, cnrm) — the
    * public accessor now that the physical table name carries the
    * generation suffix. */
  def centroids(spark: SparkSession, table: String): DataFrame =
    spark.table(centsTable(table, liveGen(spark, table)))

  /** Train the coarse quantizer on the corpus, assign every vector,
    * persist centroids + bucketed inverted lists, commit with the
    * pointer swap. `corpus` must be in [[Similarity.prepareQuantized]]
    * shape: (vec_id, e, nrm).
    *
    * A FIRST create is crash-safe (no pointer until everything is
    * written). A RE-create over a live index is the offline rebuild
    * path: it overwrites the cells table in place, so readers mid-
    * rebuild can observe old centroids against new cells — run it
    * without concurrent probes (the online maintenance op is
    * [[rebalance]], whose publication is log-structured + atomic). */
  def create(spark: SparkSession, corpus: DataFrame, table: String,
      nBuckets: Int, p: Params): Unit = {
    val gen = readGen(spark, table).map(_ + 1).getOrElse(1)
    val cents = IvfAnn.centroids(corpus, p.numCentroids, p.lloydIters)
    cents.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(centsTable(table, gen))
    val stored = spark.table(centsTable(table, gen))
    // the inverted lists are bucketed on c_id (the probe-side layout)
    // AND partitioned on drop_id — each ingested drop owns one
    // partition directory, which is what makes [[append]] idempotent.
    // Generation-versioned behind a stable view (LiveTable): a
    // re-create STAGES the next generation instead of overwriting the
    // live lists in place — a crash before the swap leaves the old
    // index fully intact
    graft.sources.LiveTable.createGeneration(spark, cellsTable(table)) { phys =>
      // vectors ride THROUGH the top-1 heap (assign's carry) in the
      // same corpus pass as the assignment — no vec_id self-alignment
      IvfAnn.assign(corpus, stored, carry = Seq("e", "nrm"))
        .select(col("c_id"), col("vec_id"), col("e"), col("nrm"))
        .withColumn("drop_id", lit("base"))
        .write.partitionBy("drop_id")
        .bucketBy(nBuckets, "c_id").sortBy("c_id")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(phys)
    }
    graft.operators.Checkpoints.release(cents)
    writeMeta(spark, table, gen) // build-time drift baseline
    graft.sources.CommitSlot.at("ivf.before-swap") // fault point: tables written, not swapped
    swapPointer(spark, table, gen)
  }

  /** Current exact index stats: (rows, cells, hhiPermille,
    * meanCosMilli, deadRows). One scan of the cells table; the
    * centroid table is broadcast. Zero-norm rows score 0 milli (the
    * cosine is undefined; they can never be probed usefully anyway). */
  private def statsOf(spark: SparkSession, table: String, gen: Int): (Long, Long, Long, Long, Long) = {
    val cents = spark.table(centsTable(table, gen))
    val lists = spark.table(cellsTable(table))
    val joined = lists.join(broadcast(cents), Seq("c_id"), "left")
      .withColumn("__live", col("ce").isNotNull)
      .withColumn("__cm", when(col("__live") && col("nrm") > 0 && col("cnrm") > 0,
        floor(cosineQ(dotQ(col("e"), col("ce")), col("nrm"), col("cnrm")) * 1000).cast("long"))
        .otherwise(lit(0L)))
    val perCell = joined.filter(col("__live"))
      .groupBy("c_id")
      .agg(count(lit(1)).as("sz"), sum(col("__cm")).as("cm"))
    val row = perCell.agg(
      sum("sz").cast("long").as("rows"),
      count(lit(1)).as("cells"),
      // HHI ×1000 in decimal(38,0): (Σ sz²)·1000 / (Σ sz)², floor
      expr("CAST((sum(CAST(sz AS DECIMAL(38,0)) * sz) * 1000) div " +
        "(sum(CAST(sz AS DECIMAL(38,0))) * sum(CAST(sz AS DECIMAL(38,0)))) AS BIGINT)")
        .as("hhi"),
      expr("CAST(sum(cm) div greatest(sum(sz), 1) AS BIGINT)").as("mcm"))
      .collect().head
    val dead = joined.filter(!col("__live")).count()
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), dead)
  }

  private def writeMeta(spark: SparkSession, table: String, gen: Int): Unit = {
    val (rows, cells, hhi, mcm, _) = statsOf(spark, table, gen)
    import spark.implicits._
    Seq((rows, cells, hhi, mcm)).toDF("rows", "cells", "hhi_permille", "mean_cos_milli")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(metaTable(table, gen))
  }

  /** Drift gauge: current stats vs the build-time baseline persisted
    * by [[create]] (and refreshed by [[rebalance]], whose post-split
    * state is the new baseline). A monthly-append pipeline reads this
    * before probing: `hhiPermille` far above baseline means probe
    * cost has concentrated into few cells; `meanCosMilli` below
    * baseline means appended vectors sit far from every build-time
    * centroid — both say "rebalance or re-create". */
  def driftStats(spark: SparkSession, table: String): DriftReport = {
    val gen = liveGen(spark, table)
    val (rows, cells, hhi, mcm, dead) = statsOf(spark, table, gen)
    val base = spark.table(metaTable(table, gen)).collect().head
    DriftReport(rows, cells, hhi, mcm,
      base.getLong(0), base.getLong(1), base.getLong(2), base.getLong(3), dead)
  }

  /** Targeted re-train: split every cell holding more than
    * `overfullFactor`× the average list size into ⌈size/avg⌉
    * sub-cells, trained by `lloydIters` Lloyd rounds over THAT CELL'S
    * members only (all over-full cells train in one tagged frame —
    * the PqAnn.codebooks trick: per-cell keys all lead with c_id, so
    * an iteration is one GroupTopK + one mean aggregate regardless of
    * how many cells split). Publication is log-structured: the new
    * sub-cells' assignments APPEND into the bucketed layout under
    * fresh centroid ids (max existing id + rank) and the centroid
    * table drops the split cells' rows — their old list rows become
    * dead (invisible to [[probe]], which only joins live centroids;
    * counted by [[driftStats]].deadRows; space is reclaimed by a
    * re-[[create]]). Untouched cells' list files and centroid rows
    * are never modified. Refreshes the drift baseline. Requires
    * numeric vector ids (new centroid ids are allocated by
    * arithmetic). */
  def rebalance(spark: SparkSession, table: String,
      overfullFactor: Int = 2, lloydIters: Int = 1): RebalanceStats = {
    require(overfullFactor >= 1 && lloydIters >= 1)
    import graft.operators.Checkpoints.{eager, eagerCount, release}
    val gen = liveGen(spark, table)
    val cents = spark.table(centsTable(table, gen))
    val live = spark.table(cellsTable(table))
      .join(cents.select("c_id"), Seq("c_id"), "left_semi")
    val sizes = eager(live.groupBy("c_id").agg(count(lit(1)).as("sz")))
    val tot = sizes.agg(sum("sz").cast("long"), count(lit(1))).collect().head
    val (total, nc) = (tot.getLong(0), tot.getLong(1))
    val target = math.max(1L, total / math.max(nc, 1L))
    val (over, nOver) = eagerCount(sizes
      .filter(col("sz") * nc > lit(overfullFactor.toLong) * total)
      .withColumn("kc", least(expr(s"(sz + ${target}L - 1) div ${target}L"), col("sz"))))
    if (nOver == 0) {
      Seq(sizes, over).foreach(release)
      return RebalanceStats(0L, 0L, 0L)
    }
    val members = eager(live.join(broadcast(over.select("c_id")), Seq("c_id"), "left_semi"))
    // deterministic per-cell seeds, STRIDED across the id-ordered
    // members (first row of each kc-quantile): an over-full cell is
    // usually old content plus a piled-up drift batch in disjoint id
    // ranges — smallest-id seeds would all come from the old content
    // and Lloyd would lump the drift into one sub-cell again
    val seedW = Window.partitionBy("c_id").orderBy("vec_id")
    val posed = members.filter(col("nrm") > 0)
      .withColumn("__rn", row_number().over(seedW))
      .join(broadcast(over.select(col("c_id"), col("kc"))), Seq("c_id"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("c_id")))
      .withColumn("sub", expr("((__rn - 1) * kc) div __n"))
    val seeds = posed
      .withColumn("__sr", row_number().over(
        Window.partitionBy("c_id", "sub").orderBy("__rn")))
      .filter(col("__sr") === 1)
      .select(col("c_id"), col("sub"), col("e").as("ce"), col("nrm").as("cnrm"))
    def assignSub(cs: DataFrame): DataFrame = {
      val scored = members.join(broadcast(cs), Seq("c_id"))
        .withColumn("__cos", cosineQ(dotQ(col("e"), col("ce")), col("nrm"), col("cnrm")))
      org.apache.spark.sql.graft.GraftPlans
        .groupTopK(scored, Seq(col("c_id"), col("vec_id")),
          Seq(col("__cos").desc, col("sub").asc), 1)
        .select(col("c_id"), col("vec_id"), col("sub"))
    }
    val trained = (1 to lloydIters).foldLeft(eager(seeds)) { (cs, _) =>
      val meanPerDim = assignSub(cs)
        .join(members, Seq("c_id", "vec_id"))
        .select(col("c_id"), col("sub"), posexplode(col("e")).as(Seq("i", "v")))
        .groupBy("c_id", "sub", "i")
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).as("m"))
      val next = eager(meanPerDim
        .groupBy("c_id", "sub")
        .agg(transform(sort_array(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("ce"))
        .withColumn("cnrm", dotQ(col("ce"), col("ce")))
        .filter(col("cnrm") > 0))
      release(cs)
      next
    }
    // fresh global ids above everything the index has ever used
    val maxId = cents.agg(max(col("c_id")).cast("long")).collect().head.getLong(0)
    val idW = Window.orderBy(col("c_id"), col("sub")) // ≤ Σ kc rows — tiny
    val (newCents, newCellCount) = eagerCount(trained
      .withColumn("new_id", lit(maxId) + row_number().over(idW)))
    // 1. append the re-assigned members under the new ids (dead rows
    //    under the old id stay until the centroid drop below — a crash
    //    here leaves only invisible-to-probe extra rows). The write is
    //    a dynamic partition overwrite on this rebalance's OWN
    //    generation-keyed drop_id, so a crashed-and-retried rebalance
    //    (pointer unmoved → same next gen) rewrites its partition
    //    instead of double-appending the re-assigned rows.
    val nextGen = gen + 1
    val reassigned = assignSub(newCents.select(col("c_id"), col("sub"), col("ce"), col("cnrm")))
      .join(newCents.select(col("c_id"), col("sub"), col("new_id")), Seq("c_id", "sub"))
      .join(members, Seq("c_id", "vec_id"))
      .select(col("new_id").as("c_id"), col("vec_id"), col("e"), col("nrm"))
    graft.sources.LiveTable.insertPartitionOverwriteLive(
      reassigned.withColumn("drop_id", lit(f"rebalance_g$nextGen%05d")),
      cellsTable(table), f"rebalance_g$nextGen%05d")
    // 2. commit: split cells leave the centroid table, sub-cells join —
    //    written as the NEXT GENERATION's centroid + meta tables (the
    //    post-split state is the new drift baseline), then ONE atomic
    //    pointer swap. A crash anywhere before the swap leaves readers
    //    on this generation's intact quantizer; the appended rows under
    //    the new ids are invisible to it (no live centroid carries
    //    them) and the orphaned next-gen tables fall to [[vacuumGens]].
    val nextCents = eager(cents
      .join(broadcast(over.select("c_id")), Seq("c_id"), "left_anti")
      .unionByName(newCents.select(col("new_id").as("c_id"), col("ce"), col("cnrm"))))
    nextCents.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(centsTable(table, nextGen))
    writeMeta(spark, table, nextGen)
    graft.sources.CommitSlot.at("ivf.before-swap") // fault point: tables written, not swapped
    swapPointer(spark, table, nextGen)
    val stats = RebalanceStats(nOver, newCellCount,
      spark.table(cellsTable(table))
        .join(spark.table(centsTable(table, nextGen)).filter(col("c_id") > maxId)
          .select("c_id"), Seq("c_id"), "left_semi").count())
    Seq(sizes, over, members, trained, newCents, nextCents).foreach(release)
    stats
  }

  /** Reclaim superseded generations' centroid/meta tables (a crashed
    * [[rebalance]] or re-[[create]] leaves the NEXT generation's
    * tables orphaned; every committed swap leaves the PREVIOUS
    * generation's behind). Never touches the live generation. Returns
    * the dropped table names. */
  def vacuumGens(spark: SparkSession, table: String): Seq[String] =
    GenPointer.vacuum(spark, table, Seq("centroids", "meta"), liveGen(spark, table))

  /** Consolidate the cells table's append history to ONE
    * `drop_id=base` partition AND reclaim [[rebalance]]'s dead rows
    * (list rows whose cell has no live centroid — invisible to
    * [[probe]], previously reclaimable only by a full re-[[create]]).
    * Probe results are bit-equal before/after (dead rows never
    * probed); [[driftStats]].deadRows drops to 0. Claim-guarded and
    * crash-healable ([[graft.sources.TableCompact]]); consumes the
    * append history (don't replay pre-compaction drop ids after). */
  def compact(spark: SparkSession, table: String,
      newBuckets: Option[Int] = None): graft.sources.TableCompact.CompactStats =
    graft.sources.TableCompact.compact(spark, cellsTable(table), Seq("c_id"), Seq("c_id"),
      df => df.join(broadcast(centroids(spark, table).select("c_id")),
        Seq("c_id"), "left_semi"), newBuckets = newBuckets)

  /** Append new vectors into the existing layout: assigned against
    * the STORED centroids (no retrain — the standard IVF ingest
    * path; retrain by re-running [[create]] when drift warrants).
    * IDEMPOTENT per drop id: the write is a dynamic partition
    * overwrite on `drop_id`, so a crash-retried or replayed ingestion
    * rewrites exactly its own partition instead of double-inserting
    * its vectors — duplicated list rows would silently inflate every
    * later probe's candidate set AND its vote in [[driftStats]]. The
    * bucket spec comes from the table's catalog metadata. */
  def append(spark: SparkSession, docs: DataFrame, table: String,
      dropId: String): Unit = {
    require(dropId.nonEmpty && dropId != "base" && !dropId.startsWith("rebalance_"),
      "append needs a per-drop id ('base'/'rebalance_*' are layout-reserved)")
    graft.sources.LiveTable.insertPartitionOverwriteLive(
      IvfAnn.assign(docs, centroids(spark, table), carry = Seq("e", "nrm"))
        .select(col("c_id"), col("vec_id"), col("e"), col("nrm"))
        .withColumn("drop_id", lit(dropId)),
      cellsTable(table), dropId)
  }

  /** ANN top-k against the index: nprobe nearest cells per query by
    * the broadcast stored quantizer, exact cosine within those cells
    * only. The cells side arrives pre-partitioned (bucket layout) —
    * only the query-batch side exchanges. */
  def probe(spark: SparkSession, table: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val cents = centroids(spark, table)
    val lists = spark.table(cellsTable(table))
    val qs = queries.select(col("vec_id").as("q_id"), col("e").as("qe"),
      col("nrm").as("qnrm"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("__ccos").desc, col("c_id").asc)
    val probed = qs
      .crossJoin(broadcast(cents))
      .withColumn("__ccos", cosineQ(dotQ(col("qe"), col("ce")), col("qnrm"), col("cnrm")))
      .withColumn("__crn", row_number().over(probeW))
      .filter(col("__crn") <= nprobe)
      .select(col("q_id"), col("qe"), col("qnrm"), col("c_id"))
    val cand = probed
      .join(lists, "c_id")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", cosineQ(dotQ(col("qe"), col("e")), col("qnrm"), col("nrm")))
    Similarity.rankedTopK(cand, col("q_id"), Seq(col("cos").desc, col("vec_id").asc), k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
  }
}
