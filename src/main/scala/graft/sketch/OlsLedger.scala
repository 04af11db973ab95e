package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental trend accounting: the regression companion of
  * [[StatsLedger]]. Each drop contributes one row of EXACT integer
  * regression sums per group; the whole-corpus trend (is this
  * source's quality drifting? is spend per user climbing?) rolls up
  * from the ledger alone — never a corpus rescan.
  *
  * Mergeability is why the sums are centered on a FIXED caller-chosen
  * reference `refX` (e.g. the epoch hour the pipeline started)
  * instead of [[graft.operators.Relational.RelationalOps.groupOls]]'s
  * per-group min: a per-group center changes as new drops arrive, but
  * sums around a constant reference are plainly additive. The slope
  * and the Sxy/Sxx numerators are translation-invariant, so the
  * rolled-up trend is BIT-EQUAL to running the batch operator over
  * the union (spec-pinned); only the intercept's frame differs (here:
  * at x = refX) — and |x − refX| must stay modest (≲2^20 at 2^21 rows
  * per group) for the same overflow reasons as the batch operator.
  *
  * Exactly-once: [[append]] is a dynamic partition overwrite on
  * drop_id — a replayed batch rewrites its own partition
  * (the [[StatsLedger.append]] discipline), so additive sums never
  * double-count. */
object OlsLedger {

  /** Per-group regression sums of one drop:
    * (grp, n, sx, sy, sxy, sxx, drop_id), x centered on `refX`. */
  def dropSummary(drop: DataFrame, dropId: String, group: Column,
      x: Column, y: Column, refX: Long): DataFrame =
    drop
      .select(group.as("grp"), (x.cast("long") - refX).as("__cx"), y.cast("long").as("__y"))
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n"),
        sum(col("__cx")).as("sx"),
        sum(col("__y")).as("sy"),
        sum(col("__cx") * col("__y")).as("sxy"),
        sum(col("__cx") * col("__cx")).as("sxx"))
      .withColumn("drop_id", lit(dropId))

  /** Idempotent per-drop append (dynamic partition overwrite). */
  def append(path: String, summary: DataFrame): Unit =
    graft.sources.PartitionedFiles.overwritePartitions(summary, path, Seq("drop_id"))

  /** The corpus-wide trend from summaries alone: sums add, then the
    * same closed form as the batch operator — slope = Sxy/Sxx with
    * the exact integer numerators emitted, intercept at x = refX,
    * NULLs when all x coincide. */
  def merge(summaries: DataFrame): DataFrame =
    summaries.groupBy("grp")
      .agg(
        sum(col("n")).as("n"), sum(col("sx")).as("__sx"), sum(col("sy")).as("__sy"),
        sum(col("sxy")).as("__sxy"), sum(col("sxx")).as("__sxx"),
        countDistinct(col("drop_id")).as("n_drops"))
      .withColumn("sxy_num", col("n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("sxx_num", col("n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope", when(col("sxx_num") === 0, lit(null).cast("double"))
        .otherwise(col("sxy_num").cast("double") / col("sxx_num").cast("double")))
      .withColumn("intercept", when(col("sxx_num") === 0, lit(null).cast("double"))
        .otherwise((col("__sy").cast("double") - col("slope") * col("__sx").cast("double")) /
          col("n").cast("double")))
      .select(col("grp"), col("n"), col("n_drops"), col("slope"), col("intercept"),
        col("sxy_num"), col("sxx_num"))

  def trend(spark: SparkSession, path: String): DataFrame =
    merge(spark.read.parquet(path))
}
