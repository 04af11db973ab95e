package graft.bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Checkpoints

/** Order-independent fingerprint of a DataFrame's rows: the row count,
  * the sum of the low 31 bits of each row's xxhash64, and the xor of
  * the row hashes. */
final case class Fp(rows: Long, sum: Long, xor: Long) {
  override def toString: String = s"rows=$rows sum=$sum xor=$xor"
}

/** Forcing outputs. Every output is forced by a noop-format or a real
  * file write (never by `count()`, under which Catalyst prunes
  * projected columns); the fingerprint rides the same job as an
  * observed metric. */
object Force {
  private val seq = new AtomicLong()

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** One long per row over every column (maps go through JSON, which
    * xxhash64 does not accept directly). */
  def rowHash(df: DataFrame): Column = {
    val cols = df.columns.toSeq.map(c => df.col(s"`$c`"))
    if (df.schema.fields.exists(f => hasMap(f.dataType))) xxhash64(to_json(struct(cols: _*)))
    else xxhash64(cols: _*)
  }

  private def fpAggs(hc: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"), coalesce(sum(pmod(hc, lit(1L << 31))), lit(0L)).as("s"),
    coalesce(bit_xor(hc), lit(0L)).as("x"))

  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation(s"graftbench_fp_${seq.incrementAndGet()}")
    val aggs = fpAggs(rowHash(df))
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  private def read(obs: Observation): Fp = {
    val m = obs.get
    Fp(m("n").asInstanceOf[Long], m("s").asInstanceOf[Long], m("x").asInstanceOf[Long])
  }

  /** Compute every column of every row, discard the rows. */
  def noop(df: DataFrame): Fp = {
    val (o, obs) = observed(df)
    o.write.format("noop").mode("overwrite").save()
    read(obs)
  }

  /** Write `df` as parquet under `path`. */
  def parquet(df: DataFrame, path: String): Fp = {
    val (o, obs) = observed(df)
    o.write.mode("overwrite").parquet(path)
    read(obs)
  }

  /** Hand `df` to a writer; fingerprint what it writes. */
  def via(df: DataFrame)(write: DataFrame => Unit): Fp = {
    val (o, obs) = observed(df)
    write(o)
    read(obs)
  }

  /** Fingerprint by a plain aggregate (untimed checks). */
  def of(df: DataFrame): Fp = {
    val aggs = fpAggs(rowHash(df))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** A traced interval: workload → operation → module call. */
final class Span(val id: Int, val name: String, val parent: Option[Int], val group: String,
    val t0: Long) {
  var t1: Long = -1
  /** counter → (value, unit) */
  val counters: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
}

/** One timed operation. */
final class Op(val seq: Int, val name: String, val kind: String, val pass: Int,
    val traced: Boolean, val span: Span) {
  var wallS: Double = 0
  var fp: Option[Fp] = None
  var error: Option[String] = None
  var pending: Int = 0
  var pinnedBytes: Long = 0
  def failed: Boolean = error.nonEmpty
}

/** Runs operations: times each one, catches and names failures, keeps
  * spans in memory, and releases operator checkpoints after every
  * operation (untimed). */
final class Harness(val spark: SparkSession, val engine: Engine) {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val byGroup = mutable.HashMap.empty[String, Span]

  private def open(name: String): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id), s"graftbench-${spans.size}",
      System.currentTimeMillis())
    spans += s
    byGroup(s.group) = s
    stack = s :: stack
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    s
  }

  private def close(s: Span): Unit = {
    s.t1 = System.currentTimeMillis()
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** A span inside the current one: the workload around its
    * operations, or a module call inside an operation. */
  def span[A](name: String)(body: => A): A = {
    val s = open(name)
    try body finally close(s)
  }

  /** Time one operation. A throw is recorded as a failure, named, and
    * left out of every timing. */
  def op(name: String, kind: String, pass: Int, traced: Boolean = false)(body: => Fp): Op = {
    val s = open(name)
    val o = new Op(ops.size, name, kind, pass, traced, s)
    ops += o
    val t0 = System.nanoTime()
    try o.fp = Some(body)
    catch {
      case NonFatal(e) =>
        o.error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(1).mkString.take(300))
        sc.cancelJobGroup(s.group)
    } finally {
      o.wallS = (System.nanoTime() - t0) / 1e9
      close(s)
    }
    // query-boundary hygiene, untimed
    o.pending = Checkpoints.pendingCount
    o.pinnedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    Checkpoints.releaseAll()
    o
  }

  /** Add to a counter of the latest span called `spanName`. */
  def record(spanName: String, key: String, v: Double, unit: String): Unit =
    spans.reverseIterator.find(_.name == spanName)
      .foreach(s => s.counters(key) = (s.counters.get(key).map(_._1).getOrElse(0.0) + v, unit))

  def fail(o: Op, why: String): Unit = if (o.error.isEmpty) o.error = Some(why)

  private def openAt(g: String, t: Long): Boolean =
    byGroup.get(g).exists(s => t >= s.t0 && (s.t1 < 0 || t <= s.t1))

  def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent.contains(s.id)).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Engine counters of a span, its module-call children included. */
  def jobsOf(s: Span): Seq[engine.Job] =
    (s +: descendants(s)).flatMap(x => engine.jobsOf(x.group, x.t0, x.t1, openAt)).distinct

  def statsOf(s: Span): EngineStats = engine.stats(jobsOf(s))

  /** Span wall time minus the union of its jobs' intervals. */
  def driverGapS(s: Span): Double =
    math.max(0.0, (s.t1 - s.t0) / 1e3 - engine.unionS(jobsOf(s), s.t0, s.t1))

  def wallS(s: Span): Double = (s.t1 - s.t0) / 1e3
}
