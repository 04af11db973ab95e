package graft.bench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of a set of Spark jobs. */
final case class EngineStats(
    jobs: Int = 0,
    stages: Int = 0,
    tasks: Long = 0,
    taskCpuS: Double = 0,
    taskWaitS: Double = 0,
    shuffleBytes: Long = 0,
    spillBytes: Long = 0,
    inputBytes: Long = 0,
    gcS: Double = 0) {

  def +(o: EngineStats): EngineStats = EngineStats(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskCpuS + o.taskCpuS, taskWaitS + o.taskWaitS,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, inputBytes + o.inputBytes,
    gcS + o.gcS)
}

/** The benchmark's SparkListener: records every job with its job group
  * and interval, and sums task metrics per stage. Spans look their jobs
  * up by job group ([[jobsOf]]). */
final class Engine(sc: SparkContext) extends SparkListener {

  final case class Job(id: Int, group: Option[String], start: Long, var end: Long, stages: Seq[Int])

  private final class Stage {
    var submitted: Long = -1
    var tasks: Long = 0
    var cpuNs: Long = 0
    var waitMs: Long = 0
    var gcMs: Long = 0
    var shuffle: Long = 0
    var spill: Long = 0
    var input: Long = 0
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  sc.addSparkListener(this)

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = Job(e.jobId, group, e.time, -1L, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (s.submitted >= 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffle += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.BusDrain(sc)

  /** Jobs that belong to a span: tagged with its `group`, or started
    * inside [t0, t1] without a group that was open at their start
    * (jobs posted from pooled threads can carry no group or a stale
    * one). `openAt(g, t)` tells whether group g's span was open at t. */
  def jobsOf(group: String, t0: Long, t1: Long, openAt: (String, Long) => Boolean): Seq[Job] =
    synchronized {
      jobs.filter { j =>
        j.group match {
          case Some(g) if openAt(g, j.start) => g == group
          case _ => j.start >= t0 && j.start <= t1
        }
      }.toSeq
    }

  def stats(js: Seq[Job]): EngineStats = synchronized {
    js.foldLeft(EngineStats()) { (acc, j) =>
      val ss = j.stages.flatMap(stages.get).filter(_.tasks > 0)
      acc + EngineStats(
        jobs = 1,
        stages = ss.size,
        tasks = ss.map(_.tasks).sum,
        taskCpuS = ss.map(_.cpuNs).sum / 1e9,
        taskWaitS = ss.map(_.waitMs).sum / 1e3,
        shuffleBytes = ss.map(_.shuffle).sum,
        spillBytes = ss.map(_.spill).sum,
        inputBytes = ss.map(_.input).sum,
        gcS = ss.map(_.gcMs).sum / 1e3)
    }
  }

  /** Length of the union of the jobs' [start, end] intervals, seconds,
    * clipped to [t0, t1]. */
  def unionS(js: Seq[Job], t0: Long, t1: Long): Double = {
    val iv = js.map(j => (math.max(t0, j.start), math.min(t1, if (j.end < 0) t1 else j.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total / 1e3
  }
}
