package graft.bench

import Workload.median

/** Turns a run's operations and spans into metrics. End-to-end metrics
  * come from untraced passes only; per-layer metrics from traced ones. */
final class Report(h: Harness, w: Workload) {
  val measured: Seq[Op] = h.ops.filter(_.pass >= 0).toSeq
  private val untraced = measured.filterNot(_.traced)
  private val traced = measured.filter(_.traced)

  private def passWalls(ops: Seq[Op]): Seq[Double] =
    ops.groupBy(_.pass).values.filter(_.forall(!_.failed)).map(_.map(_.wallS).sum).toSeq

  def passWall(p: Int): Double = measured.filter(_.pass == p).map(_.wallS).sum

  def passGapS(p: Int): Double = measured.filter(_.pass == p).map(o => h.driverGapS(o.span)).sum

  def failedFrac: Double = measured.count(_.failed).toDouble / math.max(1, measured.size)

  /** `setup_s`; `pass_s`, the median pass; `op_geomean_s`, over the
    * operations of the run's most numerous kind (the chain, the short
    * queries, the point lookups), the geometric mean of each
    * operation's median latency. */
  def endToEnd(setupS: Double): Seq[Metric] = {
    val pw = passWalls(untraced)
    val ok = untraced.filterNot(_.failed)
    val headline = ok.groupBy(_.kind).values.toSeq.sortBy(-_.size).headOption
    val geomean = headline.map { ops =>
      val medians = ops.groupBy(_.name).values.map(o => median(o.map(_.wallS)))
      math.exp(medians.map(math.log).sum / medians.size)
    }
    Seq(Some(Metric("setup_s", setupS, "s")),
      if (pw.isEmpty) None else Some(Metric("pass_s", median(pw), "s")),
      geomean.map(Metric("op_geomean_s", _, "s"))).flatten
  }

  def named: Seq[Metric] = w.named(untraced, passWalls(untraced))

  /** Jobs, stages and shuffle bytes of every untraced pass. */
  lazy val shapes: Seq[(Int, EngineStats)] =
    untraced.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, ops) =>
      p -> ops.map(o => h.statsOf(o.span)).foldLeft(EngineStats())(_ + _)
    }

  def distinctShapes: Int = shapes.map { case (_, s) => (s.jobs, s.stages) }.distinct.size

  private def nTraced: Int = math.max(1, traced.map(_.pass).distinct.size)

  private def moduleSpans: Seq[Span] =
    traced.flatMap(o => o.span +: h.descendants(o.span)).filter(_.name.contains('.'))

  private def overheadFrac: Double = {
    val t = passWalls(traced)
    val u = passWalls(untraced)
    if (t.isEmpty || u.isEmpty) Double.NaN else (median(t) - median(u)) / median(u)
  }

  def perLayer: Seq[Metric] = {
    val n = nTraced.toDouble
    val st = traced.map(o => h.statsOf(o.span)).foldLeft(EngineStats())(_ + _)
    val gap = traced.map(o => h.driverGapS(o.span)).sum
    val src = moduleSpans.filter(_.name.startsWith("sources."))
    Seq(
      Metric("engine.jobs", st.jobs / n, "count"),
      Metric("engine.stages", st.stages / n, "count"),
      Metric("engine.tasks", st.tasks / n, "count"),
      Metric("engine.task_cpu_s", st.taskCpuS / n, "s"),
      Metric("engine.task_wait_s", st.taskWaitS / n, "s"),
      Metric("engine.shuffle_bytes", st.shuffleBytes / n, "bytes"),
      Metric("engine.input_bytes", st.inputBytes / n, "bytes"),
      Metric("engine.driver_gap_s", gap / n, "s"),
      Metric("sources.wall_s", src.map(h.wallS).sum / n, "s"),
      Metric("sources.jobs", src.map(s => h.statsOf(s).jobs).sum / n, "count"),
      Metric("sources.driver_gap_s", src.map(h.driverGapS).sum / n, "s"),
      Metric("trace.overhead_frac", overheadFrac, "ratio"),
      Metric("plan.shapes", distinctShapes.toDouble, "count"))
  }

  /** `<module>.<span>.<counter>` for every module span of the traced
    * passes, plus engine spill and GC time and the workload's own
    * counters. */
  def modules: Seq[Metric] = {
    val n = nTraced.toDouble
    val bySpan = moduleSpans.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val st = ss.map(h.statsOf).foldLeft(EngineStats())(_ + _)
      val counters = ss.flatMap(_.counters.toSeq).groupBy(_._1).toSeq.sortBy(_._1).map { case (k, vs) =>
        Metric(s"$name.$k", vs.map(_._2._1).sum / vs.size, vs.head._2._2)
      }
      Seq(
        Metric(s"$name.wall_s", ss.map(h.wallS).sum / n, "s"),
        Metric(s"$name.jobs", st.jobs / n, "count"),
        Metric(s"$name.shuffle_bytes", st.shuffleBytes / n, "bytes"),
        Metric(s"$name.driver_gap_s", ss.map(h.driverGapS).sum / n, "s")) ++ counters
    }
    val st = traced.map(o => h.statsOf(o.span)).foldLeft(EngineStats())(_ + _)
    val t = passWalls(traced)
    val u = passWalls(untraced)
    bySpan ++ Seq(
      Metric("engine.spill_bytes", st.spillBytes / n, "bytes"),
      Metric("engine.gc_s", st.gcS / n, "s")) ++
      w.layerCounters(h, traced, nTraced) ++
      (if (t.nonEmpty && u.nonEmpty) Seq(
        Metric("trace.traced_pass_s", median(t), "s"),
        Metric("trace.untraced_pass_s", median(u), "s"),
        Metric("trace.overhead_s", median(t) - median(u), "s"))
      else Nil)
  }

  def spansJson: String = Json.arr(h.spans.toSeq.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.map(_.toString).getOrElse("null"),
      "t0_ms" -> s.t0.toString, "t1_ms" -> s.t1.toString))
  })
}
