package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed list of `SparkEntry` queries in a seeded order, each forced
  * by a noop write. The short group is the small-input end, where
  * per-job and per-task cost dominates; the loop group is where
  * `Checkpoints` and the driver's round loop do most of the work. Each
  * query's span is named after its module family. */
final class QueryMix(seed: Long, scale: Gen.Scale, oracleCheck: Option[String]) extends Workload {
  val name = "query_mix"

  /** (query, family, group) */
  val queries: Seq[(String, String, String)] =
    Seq("q_map", "q_reduce_by_key", "q_join").map((_, "operators.core", "short")) ++
      Seq("q_tpch_q1", "q_tpch_q6").map((_, "sources.tables_tpch", "short")) ++
      Seq("q_corpus_facade", "q_shuffle_rank", "q_pack_sequences").map((_, "corpus.chain_sf01", "short")) ++
      Seq(("q_cosine_topk", "similarity.knn", "short")) ++
      Seq("q_pagerank", "q_kcore").map((_, "operators.graph", "loop"))

  private val order = new scala.util.Random(seed).shuffle(queries)
  private val reference = mutable.HashMap.empty[String, Fp]
  /** Queries whose checked output disagreed with the oracle. */
  private val wrong = mutable.HashSet.empty[String]

  def prepare(spark: SparkSession, dir: String): Unit = Gen.writeTables(spark, dir, Gen.TableSeed, scale)

  /** Runs every query once, writing its output as parquet under
    * `check/`, then one pass that finishes warming the JIT. */
  def warmup(h: Harness, dir: String): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    order.foreach { case (q, _, _) =>
      try reference(q) = Force.parquet(SparkEntry.queries(q)(h.spark, dir), s"$dir/check/$q")
      catch {
        case scala.util.control.NonFatal(e) => problems += s"$q: warm-up run failed: $e"
      }
      graft.operators.Checkpoints.releaseAll()
    }
    pass(h, -1, traced = false, dir)
    problems.toSeq
  }

  /** Compares each warm-up output with DuckDB running the oracle SQL
    * over the same tables (`oracleCheck`, a script that reads
    * `check/oracle_sql.json` and prints `FAIL <query>: ...` lines). */
  def check(h: Harness, dir: String): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val oracle = SparkEntry.oracleSql
    order.map(_._1).filterNot(oracle.contains).foreach(q => problems += s"$q: no oracle SQL")
    val sqls = order.map(_._1).filter(oracle.contains).map(q => q -> oracle(q))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/check/oracle_sql.json"),
      Json.obj(sqls.map { case (k, v) => k -> Json.str(v) }))
    oracleCheck match {
      case None => problems += "no oracle check script given"
      case Some(script) =>
        val p = new ProcessBuilder("python3", script, s"$dir/check", dir).redirectErrorStream(true).start()
        val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
        val rc = p.waitFor()
        lines.filter(_.startsWith("FAIL ")).foreach { l =>
          problems += l
          wrong += l.stripPrefix("FAIL ").takeWhile(_ != ':')
        }
        if (rc != 0 && !lines.exists(_.startsWith("FAIL ")))
          problems += s"oracle check exited $rc: ${lines.takeRight(3).mkString(" | ")}"
    }
    problems.toSeq
  }

  def pass(h: Harness, i: Int, traced: Boolean, dir: String): Unit =
    order.foreach { case (q, family, group) =>
      val o = h.op(q, group, i, traced)(h.span(family)(Force.noop(SparkEntry.queries(q)(h.spark, dir))))
      for (ref <- reference.get(q); got <- o.fp if got != ref)
        h.fail(o, s"output fingerprint $got differs from the checked $ref")
      if (wrong(q)) h.fail(o, "checked output disagrees with the DuckDB oracle")
      if (!reference.contains(q)) h.fail(o, "query failed its checked run")
    }

  def named(ops: Seq[Op], passS: Seq[Double]): Seq[Metric] = {
    def groupS(g: String): Seq[Double] =
      ops.groupBy(_.pass).values.filter(_.forall(!_.failed)).map(_.filter(_.kind == g).map(_.wallS).sum).toSeq
    Seq("short", "loop").flatMap { g =>
      val xs = groupS(g)
      if (xs.isEmpty) None else Some(Metric(s"mix_${g}_s", Workload.median(xs), "s"))
    }
  }

  override def layerCounters(h: Harness, traced: Seq[Op], nPasses: Int): Seq[Metric] = {
    val loop = traced.filter(_.kind == "loop")
    Seq(
      Metric("operators.checkpoints.count", loop.map(_.pending).sum.toDouble / nPasses, "count"),
      Metric("operators.checkpoints.pinned_bytes", loop.map(_.pinnedBytes).sum.toDouble / nPasses, "bytes"))
  }
}
