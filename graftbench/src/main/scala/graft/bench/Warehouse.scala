package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Versioned

/** Write beside read on a bucketed, zone-mapped `Versioned` table.
  * Set-up publishes the amplified documents once. One pass is the
  * cycle patch, merge, patch, foldDeltas — each publish followed by a
  * batch of point lookups (updated, deleted, untouched and absent
  * keys), one zone-pruned range read and one full read. Drops are
  * seeded updates, deletes and inserts. A driver-side replay of the
  * same drops checks every read. */
final class Warehouse(seed: Long, baseDocs: Int, factor: Int, buckets: Int,
    lookupsPerRead: Int, dropUpdates: Int, dropDeletes: Int, dropInserts: Int) extends Workload {
  val name = "warehouse"

  private def root(dir: String) = s"$dir/table"

  /** Replayed table state: doc_id → (source, text). */
  private val state = mutable.HashMap.empty[Long, (String, String)]
  private var baseFields: Seq[String] = Nil
  private var round = 0
  private var nextInsert = 9000000000L
  /** Ops whose fingerprint must match a replay snapshot, checked in [[finish]]. */
  private val expected = mutable.ArrayBuffer.empty[(Op, Fp)]
  private val publishes = mutable.ArrayBuffer.empty[(Op, Long, Int)]
  private val layersAtRead = mutable.ArrayBuffer.empty[(Op, Int)]

  def prepare(spark: SparkSession, dir: String): Unit = {
    val docs = Gen.amplify(Gen.documents(spark, Gen.TableSeed, baseDocs), factor, seed)
      .select(col("doc_id"), col("source"), col("text"))
    val staged = s"$dir/base.parquet"
    docs.write.mode("overwrite").parquet(staged)
    val base = spark.read.parquet(staged)
    val r = Versioned.promoteBucketed(base, root(dir), "doc_id", buckets, zoneCols = Seq("doc_id"))
    require(r.promoted, s"base publish refused: $r")
    state.clear()
    base.collect().foreach(r => state(r.getLong(0)) = (r.getString(1), r.getString(2)))
    baseFields = base.columns.toSeq
  }

  /** xxhash64 over (doc_id, source, text), as Spark computes it. */
  private def rowHash(id: Long, source: String, text: String): Long = {
    def str(s: String, h: Long): Long =
      if (s == null) h
      else {
        val u = UTF8String.fromString(s)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
      }
    str(text, str(source, XXH64.hashLong(id, 42L)))
  }

  private def fpOf(rows: Iterable[(Long, (String, String))]): Fp = {
    var n, s, x = 0L
    rows.foreach { case (id, (src, txt)) =>
      val hv = rowHash(id, src, txt)
      n += 1; s += java.lang.Math.floorMod(hv, 1L << 31); x ^= hv
    }
    Fp(n, s, x)
  }

  private val dropSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType), StructField("text", StringType),
    StructField("del", BooleanType, nullable = false)))

  /** A seeded drop against the replayed state; applies it to the
    * replay and returns (drop, updated keys, deleted keys). */
  private def nextDrop(spark: SparkSession): (DataFrame, Seq[Long], Seq[Long]) = {
    round += 1
    val rnd = new scala.util.Random(seed * 7919 + round)
    val live = state.keys.toArray.sorted
    val picked = rnd.shuffle(live.toVector).take(dropUpdates + dropDeletes)
    val (upd, del) = picked.splitAt(dropUpdates)
    val ins = (0 until dropInserts).map(_ => { nextInsert += 1 + rnd.nextInt(3); nextInsert })
    val rows = upd.map { k => val (s, t) = state(k); Row(k, s, s"$t v$round", false) } ++
      del.map(k => Row(k, null, null, true)) ++
      ins.map(k => Row(k, s"src${k % 20}", s"inserted document $k round $round", false))
    upd.foreach(k => state(k) = (state(k)._1, s"${state(k)._2} v$round"))
    del.foreach(state.remove)
    ins.foreach(k => state(k) = (s"src${k % 20}", s"inserted document $k round $round"))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), dropSchema)
    (df, upd, del)
  }

  private def publish(h: Harness, kind: String, i: Int, traced: Boolean, dir: String): Unit = {
    val before = Workload.dirBytes(root(dir))
    val (o, want) = kind match {
      case "fold" =>
        val o = h.op("sources.versioned.fold", "fold", i, traced) {
          val r = Versioned.foldDeltas(h.spark, root(dir))
          require(r.merged, s"fold refused: ${r.reason}")
          Fp(r.upserted + r.inserted, r.deleted, 0)
        }
        (o, None)
      case _ =>
        val (drop, upd, del) = nextDrop(h.spark)
        val o = h.op(s"sources.versioned.$kind", kind, i, traced) {
          if (kind == "patch") {
            val r = Versioned.patch(drop, root(dir), deleted = col("del"))
            require(r.patched, s"patch refused: ${r.reason}")
            Fp(r.upserted + r.inserted, r.deleted, 0)
          } else {
            val r = Versioned.merge(drop, root(dir), deleted = col("del"))
            require(r.merged, s"merge refused: ${r.reason}")
            Fp(r.upserted + r.inserted, r.deleted, 0)
          }
        }
        lastUpdated = upd
        lastDeleted = del
        (o, Some(Fp(upd.size + dropInserts, del.size, 0)))
    }
    for (w <- want; got <- o.fp if got != w) h.fail(o, s"publish accounting $got, replay says $w")
    val after = Workload.dirBytes(root(dir))
    publishes += ((o, after._1 - before._1, after._2 - before._2))
  }

  private var lastUpdated: Seq[Long] = Nil
  private var lastDeleted: Seq[Long] = Nil

  private def layers(dir: String): Int =
    Versioned.currentManifest(root(dir)).flatMap(_.buckets).map(_.deltas.size).getOrElse(0)

  private def reads(h: Harness, i: Int, traced: Boolean, dir: String): Unit = {
    val rnd = new scala.util.Random(seed * 104729 + round)
    val live = state.keys.toArray.sorted
    val untouched = live.filterNot(k => lastUpdated.contains(k))
    val n = lookupsPerRead
    val keys = rnd.shuffle(lastUpdated).take(n * 3 / 10) ++ rnd.shuffle(lastDeleted).take(n * 2 / 10) ++
      Seq.fill(n * 3 / 10)(untouched(rnd.nextInt(untouched.length)))
    val absent = Seq.fill(n - keys.size)(-1L - rnd.nextInt(1000000))
    val nLayers = layers(dir)
    rnd.shuffle(keys ++ absent).foreach { k =>
      val o = h.op("sources.versioned.lookup", "lookup", i, traced)(Force.noop(Versioned.lookup(h.spark, root(dir), k)))
      expected += ((o, fpOf(state.get(k).map(k -> _))))
      layersAtRead += ((o, nLayers))
    }
    val lo = live(rnd.nextInt(live.length))
    val hi = lo + baseDocs.toLong * factor / 20
    val r = h.op("sources.versioned.range", "range", i, traced)(Force.noop(Versioned.readRange(h.spark, root(dir), "doc_id", lo, hi)))
    expected += ((r, fpOf(state.filter { case (k, _) => k >= lo && k <= hi })))
    layersAtRead += ((r, nLayers))
    val f = h.op("sources.versioned.read", "read", i, traced)(Force.noop(Versioned.read(h.spark, root(dir))))
    expected += ((f, fpOf(state)))
    layersAtRead += ((f, nLayers))
  }

  /** Both publish paths and every read path once (their reads are
    * checked in [[finish]] too). */
  def warmup(h: Harness, dir: String): Seq[String] = {
    cycle(h, Seq("patch", "merge"), -1, traced = false, dir)
    Nil
  }

  def check(h: Harness, dir: String): Seq[String] = {
    val got = Force.of(Versioned.read(h.spark, root(dir)).select(baseFields.map(col): _*))
    val want = fpOf(state)
    if (got != want) Seq(s"warehouse: table read ($got) differs from its replay ($want)") else Nil
  }

  private def cycle(h: Harness, kinds: Seq[String], i: Int, traced: Boolean, dir: String): Unit =
    kinds.foreach { kind =>
      publish(h, kind, i, traced, dir)
      reads(h, i, traced, dir)
    }

  def pass(h: Harness, i: Int, traced: Boolean, dir: String): Unit =
    cycle(h, Seq("patch", "merge", "patch", "fold"), i, traced, dir)

  override def finish(h: Harness, dir: String): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    expected.foreach { case (o, want) =>
      for (got <- o.fp if got != want) {
        h.fail(o, s"output fingerprint $got differs from the replay's $want")
        if (problems.size < 5) problems += s"warehouse: ${o.name} #${o.seq} read $got, replay says $want"
      }
    }
    // space amplification against a fresh publish of the live rows
    val live = Versioned.read(h.spark, root(dir))
    val fresh = s"$dir/fresh"
    require(Versioned.promoteBucketed(live, fresh, "doc_id", buckets, zoneCols = Seq("doc_id")).promoted)
    spaceAmp = Workload.dirBytes(root(dir))._1.toDouble / math.max(1L, Workload.dirBytes(fresh)._1)
    problems.toSeq
  }

  private var spaceAmp = 0.0

  def named(ops: Seq[Op], passS: Seq[Double]): Seq[Metric] = {
    def med(kind: String, metric: String): Option[Metric] = {
      val xs = ops.filter(o => o.kind == kind && !o.failed).map(_.wallS)
      if (xs.isEmpty) None else Some(Metric(metric, Workload.median(xs), "s"))
    }
    val lookups = ops.filter(o => o.kind == "lookup" && !o.failed).map(_.wallS)
    val tail = Workload.tailPercentile(lookups.size).filter(_ > 50).map { p =>
      Metric(s"wh_lookup_s.p$p", Workload.percentile(lookups, p), "s")
    }
    Seq(med("patch", "wh_patch_s"), med("merge", "wh_merge_s"), med("fold", "wh_fold_s"),
      med("lookup", "wh_lookup_s.p50"), med("range", "wh_range_s"), med("read", "wh_read_s")).flatten ++
      tail.toSeq ++ Seq(Metric("wh_space_amp", spaceAmp, "ratio"),
        Metric("wh_lookup_samples", lookups.size.toDouble, "count"))
  }

  override def layerCounters(h: Harness, traced: Seq[Op], nPasses: Int): Seq[Metric] = {
    val ids = traced.map(_.seq).toSet
    val pubs = publishes.filter { case (o, _, _) => ids(o.seq) && o.kind != "fold" }
    val reads = layersAtRead.filter { case (o, _) => ids(o.seq) }
    val lookups = traced.filter(_.kind == "lookup")
    def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Seq(
      Metric("sources.versioned.bytes_written_per_publish", avg(pubs.map(_._2.toDouble).toSeq), "bytes"),
      Metric("sources.versioned.files_written_per_publish", avg(pubs.map(_._3.toDouble).toSeq), "count"),
      Metric("sources.versioned.delta_layers_at_read", avg(reads.map(_._2.toDouble).toSeq), "count"),
      Metric("sources.versioned.lookup_input_bytes",
        avg(lookups.map(o => h.statsOf(o.span).inputBytes.toDouble)), "bytes"))
  }
}
