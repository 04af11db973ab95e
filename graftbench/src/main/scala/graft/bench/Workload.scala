package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One benchmark workload. The harness calls [[prepare]] several times
  * (timed as the median), then [[warmup]] once (timed; both are part
  * of set-up), then [[check]] once (untimed correctness check), then
  * [[pass]] until the run's time is up, then [[finish]]. */
trait Workload {
  def name: String

  /** Build this run's inputs under `dir`; the last call's inputs are
    * the ones the passes use. */
  def prepare(spark: SparkSession, dir: String): Unit

  /** The first run of the workload's operations, which warms the JIT
    * and codegen caches and records the outputs that [[check]] checks
    * and every timed pass must reproduce. Returns the problems found. */
  def warmup(h: Harness, dir: String): Seq[String]

  /** Untimed correctness check. Returns the problems found. */
  def check(h: Harness, dir: String): Seq[String]

  /** One timed pass: a fixed sequence of operations. */
  def pass(h: Harness, i: Int, traced: Boolean, dir: String): Unit

  /** Checks that need the whole run (untimed). Returns problems. */
  def finish(h: Harness, dir: String): Seq[String] = Nil

  /** The workload's own end-to-end metrics, from untraced operations. */
  def named(ops: Seq[Op], passS: Seq[Double]): Seq[Metric]

  /** The workload's own per-module counters, from traced operations. */
  def layerCounters(h: Harness, traced: Seq[Op], nPasses: Int): Seq[Metric] = Nil
}

object Workload {
  /** Local checkpoint that the caller releases explicitly (kept out of
    * `Checkpoints`' registry so the library's own pending count stays
    * its own). */
  def materialize(df: DataFrame, held: scala.collection.mutable.Buffer[DataFrame]): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    held += out
    out
  }

  def release(held: scala.collection.mutable.Buffer[DataFrame]): Unit = {
    held.foreach(d => org.apache.spark.sql.graft.CheckpointBlocks.rddOf(d)
      .foreach(_.unpersist(blocking = false)))
    held.clear()
  }

  def dirBytes(path: String): (Long, Int) = {
    val root = new java.io.File(path)
    if (!root.exists()) (0L, 0)
    else {
      val walk = java.nio.file.Files.walk(root.toPath)
      try {
        val sizes = walk.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
          .map(p => java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path]))
        (sizes.sum, sizes.length)
      } finally walk.close()
    }
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of p50/p90/p95/p99 that has at least ten samples
    * beyond it, or None when there are fewer than 20 samples. */
  def tailPercentile(n: Int): Option[Int] =
    Seq(99, 95, 90, 50).find(p => n * (100 - p) / 100.0 >= 10)
}
