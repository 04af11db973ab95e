package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.sources.CommitSlot

/** Arming the one fault seam, [[CommitSlot.hook]], from specs: a
  * one-shot action or crash at a named point, or two writers forced to
  * meet at a point before either continues. Always [[disarm]] in a
  * `finally`. */
object Seams {

  def disarm(): Unit = CommitSlot.hook = _ => ()

  /** Run `action` the first time a writer reaches `point`, then
    * disarm (one-shot, so the retry completes). */
  def onceAt(point: String)(action: => Unit): Unit =
    CommitSlot.hook = p => if (p == point) { disarm(); action }

  /** A simulated kill at `point`: one-shot `sys.error`. */
  def crashAt(point: String): Unit =
    onceAt(point)(sys.error(s"simulated crash at '$point'"))

  /** Two writers forced to overlap at `point`: the first two arrivals
    * each run `probe`, then wait for each other (bounded by 60 s)
    * before either continues; later arrivals (a retry) pass straight
    * through. [[probes]] lists the probe results in arrival order. */
  final class Meeting[A] private[Seams] (point: String, probe: () => A) {
    private val barrier = new CyclicBarrier(2)
    private val arrivals = new AtomicInteger()
    private val seen = new ConcurrentLinkedQueue[A]()
    private[Seams] def arrive(p: String): Unit =
      if (p == point && arrivals.getAndIncrement() < 2) {
        seen.add(probe())
        barrier.await(60, TimeUnit.SECONDS)
      }
    def probes: Seq[A] = seen.asScala.toSeq
  }

  def meet[A](point: String)(probe: => A): Meeting[A] = {
    val m = new Meeting(point, () => probe)
    CommitSlot.hook = m.arrive
    m
  }
}
