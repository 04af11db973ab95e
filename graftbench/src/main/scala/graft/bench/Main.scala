package graft.bench

import scala.collection.mutable

import graft.GraftSession
import graft.operators.Checkpoints

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  * graft.bench.Main --workload pipeline|query_mix|warehouse --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE [--size full|smoke]
  *   [--oracle-check SCRIPT]
  * }}}
  *
  * Set-up (session start, the median of several input builds, and the
  * warm-up) is reported as `setup_s`. The correctness check follows,
  * untimed. Passes then run until `S` seconds are used; with
  * `--trace 1`, every second pass is traced. The result goes to FILE
  * as JSON. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val smoke = a.getOrElse("size", "full") == "smoke"
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = GraftSession.builder("graftbench", s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new Engine(spark.sparkContext)
    val h = new Harness(spark, engine)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workloadName match {
      case "pipeline" =>
        if (smoke) new Pipeline(seed, baseDocs = 500, factor = 2, files = 4)
        else new Pipeline(seed, baseDocs = 5000, factor = 16, files = 16)
      case "query_mix" =>
        val scale = if (smoke) Gen.Scale(0.001, 500, 500, 1000) else Gen.Scale(0.01, 500, 500, 10000)
        new QueryMix(seed, scale, a.get("oracle-check"))
      case "warehouse" =>
        if (smoke) new Warehouse(seed, 500, 2, buckets = 4, lookupsPerRead = 4,
          dropUpdates = 20, dropDeletes = 5, dropInserts = 5)
        else new Warehouse(seed, 5000, 2, buckets = 8, lookupsPerRead = 6,
          dropUpdates = 100, dropDeletes = 25, dropInserts = 25)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // set-up: build the inputs several times, keep the median
    val builds = if (smoke) 1 else 3
    val buildS = (0 until builds).map { i =>
      val t = System.nanoTime()
      w.prepare(spark, s"$work/input-$i")
      (System.nanoTime() - t) / 1e9
    }
    val dir = s"$work/input-${builds - 1}"
    (0 until builds - 1).foreach(i => deleteTree(new java.io.File(s"$work/input-$i")))
    val problems = mutable.ArrayBuffer.empty[String]
    val tw = System.nanoTime()
    problems ++= w.warmup(h, dir)
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Workload.median(buildS) + warmupS
    val tc = System.nanoTime()
    problems ++= w.check(h, dir)
    val checkS = (System.nanoTime() - tc) / 1e9

    // timed passes
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (trace) 2 else 1
    var i = 0
    h.span(workloadName) {
      while (i < minPasses || System.nanoTime() < deadline) {
        w.pass(h, i, traced = trace && i % 2 == 1, dir)
        i += 1
      }
    }
    problems ++= hygiene(spark.sparkContext)
    problems ++= w.finish(h, dir)
    problems ++= h.ops.filter(o => o.pass < 0 && o.failed).map(o => s"warm-up ${o.name}: ${o.error.get}")
    Checkpoints.releaseAll()
    engine.drain()

    val report = new Report(h, w)
    val e2e = report.endToEnd(setupS)
    val out = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "cores" -> cores.toString,
      "problems" -> Json.arr(problems.toSeq.map(Json.str)),
      "attempted" -> report.measured.size.toString,
      "failed" -> report.measured.count(_.failed).toString,
      "failures" -> Json.arr(report.measured.filter(_.failed).map(o =>
        Json.obj(Seq("op" -> Json.str(o.name), "pass" -> o.pass.toString,
          "error" -> Json.str(o.error.get))))),
      "setup_parts" -> Json.metrics(Seq(Metric("session_s", sessionS, "s"),
        Metric("input_build_s", Workload.median(buildS), "s"), Metric("warmup_s", warmupS, "s"))),
      "check_s" -> Json.num(checkS),
      "end_to_end" -> Json.metrics(e2e),
      "named" -> Json.metrics(report.named ++ Seq(
        Metric("ops_failed_frac", report.failedFrac, "ratio"), Metric("peak_rss_mb", peakRssMb(), "MB"))),
      "per_layer" -> Json.metrics(if (trace) report.perLayer else Nil),
      "modules" -> Json.metrics(if (trace) report.modules else Nil),
      "shapes" -> Json.arr(report.shapes.map { case (p, s) =>
        Json.obj(Seq("pass" -> p.toString, "wall_s" -> Json.num(report.passWall(p)),
          "jobs" -> s.jobs.toString, "stages" -> s.stages.toString,
          "shuffle_bytes" -> s.shuffleBytes.toString, "task_cpu_s" -> Json.num(s.taskCpuS),
          "driver_gap_s" -> Json.num(report.passGapS(p))))
      }),
      "distinct_shapes" -> report.distinctShapes.toString,
      "spans" -> report.spansJson))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out)
    spark.stop()
  }

  /** Storage left behind when the workload's passes end: operator
    * checkpoints not released, and blocks still pinned (the harness's
    * own materializations included). Unpersisting is asynchronous, so
    * pinned blocks get a few seconds to go. */
  private def hygiene(sc: org.apache.spark.SparkContext): Seq[String] = {
    val pending = Checkpoints.pendingCount
    def pinned = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val until = System.nanoTime() + 10000000000L
    while (pinned > 0 && System.nanoTime() < until) Thread.sleep(100)
    val left = pinned
    Seq(
      if (pending != 0) Some(s"$pending operator checkpoints still pending at workload end") else None,
      if (left != 0) Some(s"$left bytes of cached blocks still pinned at workload end") else None).flatten
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally status.close()
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
