package graft

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Randomized differential fuzz gate, Spark half (r9 verdict item 5).
  *
  * For each high-composition operator family: N seeded cases, each a
  * fresh random input frame AND random operator parameters. The
  * operator runs on Spark; the case directory gets the input tables,
  * the operator output, and an independently-authored DuckDB oracle
  * SQL parameterized by the case's params. `dev/fuzz_check.py` then
  * replays every case in DuckDB with the driver's exact compare
  * (sorted columns, sorted rows, exact values).
  *
  * Why this exists: the fixed-fixture oracle gate pins one input and
  * one parameter point per operator; edge semantics (equal-timestamp
  * as-of ties, negative-timestamp bucketing, weight-overflow
  * priorities, budget-boundary waterfills, short-doc windows) live
  * OFF those points — the r8 singleton-label NaN was exactly this
  * class, found by review rather than a gate.
  *
  * Usage: sbt "Test/runMain graft.FuzzDump OUTDIR [SEEDS]"
  * (default 100 seeds per op; FuzzParitySpec drives a small smoke
  * count through the same path inside `sbt test`).
  */
object FuzzDump {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val seeds = if (args.length > 1) args(1).toInt else 100
    val spark = GraftSession.builder("fuzz", "local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, outDir, seeds)
    spark.stop()
  }

  /** Runs every family; returns the number of cases dumped. */
  def run(spark: org.apache.spark.sql.SparkSession, outDir: String, seeds: Int): Int = {
    import spark.implicits._
    var cases = 0

    def dump(op: String, seed: Int, tables: Map[String, DataFrame],
        out: DataFrame, sql: String): Unit = {
      val dir = s"$outDir/$op/s$seed"
      tables.foreach { case (n, df) =>
        df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$n.parquet")
      }
      out.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/out.parquet")
      java.nio.file.Files.write(new File(dir, "oracle.sql").toPath, sql.getBytes("UTF-8"))
      cases += 1
    }

    // ---- as-of join family: small ts range → many equal-ts ties ----
    def asofData(rnd: Random) = {
      val nk = 1 + rnd.nextInt(4)
      val l = (0 until 1 + rnd.nextInt(40)).map(i =>
        (rnd.nextInt(nk).toLong, rnd.nextInt(50).toLong, i.toLong)).toDF("k", "ts", "lid")
      val r = (0 until rnd.nextInt(40)).map(_ =>
        (rnd.nextInt(nk).toLong, rnd.nextInt(50).toLong, rnd.nextInt(1000).toLong))
        .toDF("k", "rts", "v")
      (l, r)
    }
    // the operator's equal-ts tie-break carries the MAX payload struct
    // (rts, v); the oracle states that rule independently as a
    // row_number pick
    val backPick =
      """cand AS (
        |  SELECT l.lid AS clid, r.rts, r.v,
        |         row_number() OVER (PARTITION BY l.lid ORDER BY r.rts DESC, r.v DESC) AS rn
        |  FROM l JOIN r ON l.k = r.k AND r.rts <= l.ts)""".stripMargin
    val fwdPick =
      """cand AS (
        |  SELECT l.lid AS clid, r.rts, r.v,
        |         row_number() OVER (PARTITION BY l.lid ORDER BY r.rts ASC, r.v DESC) AS rn
        |  FROM l JOIN r ON l.k = r.k AND r.rts >= l.ts)""".stripMargin
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 1)
      val (l, r) = asofData(rnd)
      dump("asof_backward", seed, Map("l" -> l, "r" -> r),
        graft.operators.TemporalJoins.asofJoin(l, r, "k", col("ts"), col("rts"), Seq("rts", "v")),
        s"""WITH $backPick
           |SELECT l.k, l.ts, l.lid, c.rts, c.v
           |FROM l LEFT JOIN cand c ON l.lid = c.clid AND c.rn = 1""".stripMargin)
      dump("asof_forward", seed, Map("l" -> l, "r" -> r),
        graft.operators.TemporalJoins.asofJoinForward(l, r, "k", col("ts"), col("rts"), Seq("rts", "v")),
        s"""WITH $fwdPick
           |SELECT l.k, l.ts, l.lid, c.rts, c.v
           |FROM l LEFT JOIN cand c ON l.lid = c.clid AND c.rn = 1""".stripMargin)
      dump("asof_nearest", seed, Map("l" -> l, "r" -> r),
        graft.operators.TemporalJoins.asofJoinNearest(
          l, r, "k", col("ts"), col("rts"), Seq("rts", "v"), "rts"),
        s"""WITH $backPick,
           |fcand AS (
           |  SELECT l.lid AS clid, r.rts, r.v,
           |         row_number() OVER (PARTITION BY l.lid ORDER BY r.rts ASC, r.v DESC) AS rn
           |  FROM l JOIN r ON l.k = r.k AND r.rts >= l.ts)
           |SELECT l.k, l.ts, l.lid,
           |  CASE WHEN b.rts IS NULL THEN f.rts WHEN f.rts IS NULL THEN b.rts
           |       WHEN l.ts - b.rts <= f.rts - l.ts THEN b.rts ELSE f.rts END AS rts,
           |  CASE WHEN b.rts IS NULL THEN f.v WHEN f.rts IS NULL THEN b.v
           |       WHEN l.ts - b.rts <= f.rts - l.ts THEN b.v ELSE f.v END AS v
           |FROM l LEFT JOIN cand b ON l.lid = b.clid AND b.rn = 1
           |       LEFT JOIN fcand f ON l.lid = f.clid AND f.rn = 1""".stripMargin)
    }

    // ---- interval×interval overlap join: bucketing must be
    // transparent for ANY bucket size (incl. bucket ≪ and ≫ spans);
    // touching endpoints, point intervals, many-bucket spans ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 2)
      val nk = 1 + rnd.nextInt(3)
      def side(tag: String, n: Int) = (0 until n).map { i =>
        val s = rnd.nextInt(300).toLong
        (rnd.nextInt(nk).toLong, i.toLong, s, s + rnd.nextInt(50).toLong)
      }.toDF("k", s"${tag}id", s"${tag}s_us", s"${tag}e_us")
      val a = side("a", 1 + rnd.nextInt(25))
      val b = side("b", 1 + rnd.nextInt(25))
      val bucket = Seq(1L, 3L, 10L, 49L, 300L, 5000L)(rnd.nextInt(6))
      dump("interval_join", seed, Map("a" -> a, "b" -> b),
        graft.operators.TemporalJoins.intervalJoinBucketed(a, b, "k",
          col("as_us"), col("ae_us"), col("bs_us"), col("be_us"), bucket),
        """SELECT a.k, aid, as_us, ae_us, bid, bs_us, be_us
          |FROM a JOIN b ON a.k = b.k AND as_us <= be_us AND bs_us <= ae_us""".stripMargin)
    }

    // ---- point-in-interval range join ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 3)
      val nk = 1 + rnd.nextInt(3)
      val points = (0 until 1 + rnd.nextInt(40)).map(i =>
        (rnd.nextInt(nk).toLong, rnd.nextInt(500).toLong, i.toLong)).toDF("k", "pt", "pid")
      val ivs = (0 until 1 + rnd.nextInt(20)).map { i =>
        val s = rnd.nextInt(450).toLong
        (rnd.nextInt(nk).toLong, s, s + rnd.nextInt(80).toLong, i.toLong)
      }.toDF("k", "s", "e", "iid")
      val bucket = Seq(1L, 7L, 64L, 500L, 10000L)(rnd.nextInt(5))
      dump("range_join", seed, Map("p" -> points, "iv" -> ivs),
        graft.operators.TemporalJoins.rangeJoinBucketed(
          points, ivs, "k", col("pt"), col("s"), col("e"), bucket),
        """SELECT p.k, pt, pid, s, e, iid
          |FROM p JOIN iv ON p.k = iv.k AND pt >= s AND pt <= e""".stripMargin)
    }

    // ---- priority sampling: weights through the old silent-wrap
    // zone (w ≥ 2^35) — the oracle computes the exact priority in
    // HUGEINT, independently of the operator's split arithmetic ----
    def prioSql(k: Int, grouped: Boolean): String = {
      val part = if (grouped) "PARTITION BY grp " else ""
      val grpSel = if (grouped) "grp, " else ""
      s"""WITH b AS (
         |  SELECT ${grpSel}key, w,
         |         (('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 7))::BIGINT % 268435456) + 1 AS u
         |  FROM t WHERE w >= 1),
         |p AS (SELECT ${grpSel}key, w,
         |             CAST((CAST(w AS HUGEINT) * 268435456) // u AS BIGINT) AS pri FROM b),
         |r AS (SELECT * FROM (
         |        SELECT *, row_number() OVER (${part}ORDER BY pri DESC, key ASC) AS rn FROM p)
         |      WHERE rn <= ${k + 1}),
         |t2 AS (SELECT ${if (grouped) "grp, " else ""}
         |              CAST(coalesce(max(CASE WHEN rn = ${k + 1} THEN pri END), 0) AS BIGINT) AS tau
         |       FROM r${if (grouped) " GROUP BY grp" else ""})
         |SELECT ${if (grouped) "r.grp, " else ""}r.key, r.w, r.pri, t2.tau, greatest(r.w, t2.tau) AS est
         |FROM r ${if (grouped) "JOIN t2 USING (grp)" else "CROSS JOIN t2"} WHERE r.rn <= $k""".stripMargin
    }
    def weights(rnd: Random, n: Int): Seq[Long] = (0 until n).map { _ =>
      rnd.nextInt(4) match {
        case 0 => rnd.nextInt(2).toLong // 0 (excluded) and 1
        case 1 => 1L + rnd.nextInt(1000)
        case 2 => 1L << (20 + rnd.nextInt(16)) // up to 2^35
        case _ => (1L << 35) + (rnd.nextLong() % (1L << 35)).abs // the old wrap zone
      }
    }
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 4)
      val n = 1 + rnd.nextInt(60)
      val k = 1 + rnd.nextInt(8)
      val flat = weights(rnd, n).zipWithIndex.map { case (w, i) => (i * 131L + 7L, w) }
        .toDF("key", "w")
      dump("priority_sample", seed, Map("t" -> flat),
        graft.sketch.Sketches.prioritySample(flat, col("key"), col("w"), k),
        prioSql(k, grouped = false))
      val grouped = weights(rnd, n).zipWithIndex.map { case (w, i) =>
        (s"g${rnd.nextInt(3)}", i * 131L + 7L, w) }.toDF("grp", "key", "w")
      dump("group_priority_sample", seed, Map("t" -> grouped),
        graft.sketch.Sketches.groupPrioritySample(grouped, col("grp"), col("key"), col("w"), k),
        prioSql(k, grouped = true))
    }

    // ---- UniMax waterfill: random budgets hit every boundary of the
    // capped/bound split (zero budgets, over-capacity budgets,
    // odd-unit remainders) ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 5)
      val langs = 1 + rnd.nextInt(6)
      val docs = (0 until 1 + rnd.nextInt(40)).map { i =>
        val toks = 1 + rnd.nextInt(30)
        (s"l${rnd.nextInt(langs)}", (0 until toks).map(j => s"w${(i + j) % 7}").mkString(" "))
      }.toDF("lang", "text")
      val (num, den) = (rnd.nextInt(10).toLong, 1L + rnd.nextInt(10))
      val em = 500L + rnd.nextInt(4000)
      dump("unimax", seed, Map("docs" -> docs),
        graft.text.UniMax.allocateRelative(docs, col("lang"), col("text"), num, den, em),
        raw"""WITH s AS (
             |  SELECT lang,
             |         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS tokens
             |  FROM docs GROUP BY lang),
             |tt AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM s),
             |b AS (
             |  SELECT lang, tokens, (tokens * $em) // 1000 AS capacity,
             |         (total * $num) // $den AS B
             |  FROM s CROSS JOIN tt),
             |${graft.queries.PipelineQueries.unimaxChainCtes}
             |SELECT lang, tokens, capacity, capped, alloc,
             |       (alloc * 1000) // greatest(tokens, 1) AS epochs_milli
             |FROM alloc""".stripMargin)
    }

    // ---- gap fill: NEGATIVE timestamps exercise the floor-division
    // bucketing; tiny buckets force multi-ties per bucket ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 6)
      val nk = 1 + rnd.nextInt(3)
      val t = (0 until 1 + rnd.nextInt(50)).map(_ =>
        (rnd.nextInt(nk).toLong, rnd.nextInt(400).toLong - 200L,
          rnd.nextInt(10).toLong, rnd.nextInt(100).toLong)).toDF("k", "us", "tb", "v")
      val step = Seq(1L, 2L, 7L, 10L, 60L)(rnd.nextInt(5))
      dump("gap_fill", seed, Map("t" -> t),
        graft.operators.Timeseries.TimeseriesOps(t)
          .gapFill(col("k"), col("us"), col("tb"), col("v"), step),
        s"""WITH base AS (
           |  SELECT k, us, tb, v,
           |         ((us // $step) - CASE WHEN us % $step < 0 THEN 1 ELSE 0 END) AS bucket
           |  FROM t),
           |obs AS (
           |  SELECT k, bucket, v FROM (
           |    SELECT k, bucket, v,
           |           row_number() OVER (PARTITION BY k, bucket
           |                              ORDER BY us DESC, tb DESC, v DESC) AS rn
           |    FROM base) WHERE rn = 1),
           |g AS (SELECT k, unnest(generate_series(min(bucket), max(bucket))) AS bucket
           |      FROM base GROUP BY k)
           |SELECT g.k AS key, g.bucket,
           |       last_value(o.v IGNORE NULLS)
           |         OVER (PARTITION BY g.k ORDER BY g.bucket
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
           |FROM g LEFT JOIN obs o ON g.k = o.k AND g.bucket = o.bucket""".stripMargin)
    }

    // ---- MAD outliers: integer values + half-unit k factors keep
    // every float exactly representable, so > compares bit-equal ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 7)
      val ng = 1 + rnd.nextInt(4)
      val t = (0 until 1 + rnd.nextInt(50)).map(i =>
        (i.toLong, rnd.nextInt(ng).toLong, rnd.nextInt(101).toLong - 50L)).toDF("id", "g", "v")
      val k = Seq(1.0, 1.5, 2.0)(rnd.nextInt(3))
      dump("mad_outliers", seed, Map("t" -> t),
        graft.operators.Relational.RelationalOps(t)
          .madOutliers(Seq(col("g")), col("v"), k, Seq(col("id"))),
        s"""WITH base AS (SELECT id, g, CAST(v AS DOUBLE) AS v FROM t),
           |m AS (SELECT g, median(v) AS med FROM base GROUP BY g),
           |d AS (SELECT base.id, base.g, base.v, m.med FROM base JOIN m USING (g)),
           |mm AS (SELECT g, median(abs(v - med)) AS mad FROM d GROUP BY g)
           |SELECT d.id, d.g, CAST(d.v AS BIGINT) AS value
           |FROM d JOIN mm USING (g)
           |WHERE abs(d.v - d.med) > $k * mm.mad""".stripMargin)
    }

    // ---- per-group OLS: degenerate groups (1 row, constant x) and
    // epoch-scale x exercise the centering + NULL paths ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 9)
      val base = if (rnd.nextBoolean()) 0L else 1000000000000L
      val t = (0 until 1 + rnd.nextInt(50)).map(_ =>
        (s"g${rnd.nextInt(4)}", base + rnd.nextInt(1 + rnd.nextInt(100)).toLong,
          rnd.nextInt(1000).toLong - 500L)).toDF("g", "x", "y")
      dump("group_ols", seed, Map("t" -> t),
        graft.operators.Relational.RelationalOps(t)
          .groupOls(Seq(col("g")), col("x"), col("y")),
        """WITH c AS (SELECT g, x, y, min(x) OVER (PARTITION BY g) AS x0 FROM t),
          |s AS (SELECT g, x0, CAST(count(*) AS BIGINT) AS n,
          |             CAST(sum(x - x0) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |             CAST(sum((x - x0) * y) AS BIGINT) AS sxy,
          |             CAST(sum((x - x0) * (x - x0)) AS BIGINT) AS sxx
          |      FROM c GROUP BY 1, 2)
          |SELECT g, x0, n,
          |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
          |            ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
          |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
          |            ELSE (CAST(sy AS DOUBLE)
          |                  - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
          |                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) END AS intercept,
          |       n * sxy - sx * sy AS sxy_num, n * sxx - sx * sx AS sxx_num
          |FROM s""".stripMargin)
    }

    // ---- weighted median: dense tie classes, weight-1 and heavy
    // rows, single-value groups ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 10)
      val t = (0 until 1 + rnd.nextInt(60)).map(_ =>
        (s"g${rnd.nextInt(3)}", rnd.nextInt(1 + rnd.nextInt(20)).toLong,
          1L + rnd.nextInt(9).toLong)).toDF("g", "v", "w")
      dump("weighted_median", seed, Map("t" -> t),
        graft.operators.Relational.RelationalOps(t)
          .weightedMedian(Seq(col("g")), col("v"), col("w")),
        """WITH pv AS (SELECT g, v, CAST(sum(w) AS BIGINT) AS wv FROM t GROUP BY 1, 2),
          |c AS (SELECT g, v,
          |             CAST(sum(wv) OVER (PARTITION BY g ORDER BY v
          |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |             CAST(sum(wv) OVER (PARTITION BY g) AS BIGINT) AS tot
          |      FROM pv)
          |SELECT g, CAST(min(v) AS BIGINT) AS wmedian, CAST(max(tot) AS BIGINT) AS total_w
          |FROM c WHERE cum * 2 >= tot GROUP BY g""".stripMargin)
    }

    // ---- Gini: all-equal, zero-mass, and single-row groups ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 11)
      val t = (0 until 1 + rnd.nextInt(50)).map(_ =>
        (s"g${rnd.nextInt(4)}",
          if (rnd.nextInt(5) == 0) 0L else rnd.nextInt(200).toLong)).toDF("g", "x")
      dump("gini", seed, Map("t" -> t),
        graft.operators.Relational.RelationalOps(t).giniByGroup(Seq(col("g")), col("x")),
        """WITH r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS i FROM t),
          |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
          |             CAST(sum(i * x) AS BIGINT) AS six
          |      FROM r GROUP BY g)
          |SELECT g, n,
          |       CASE WHEN sx <= 0 THEN NULL
          |            ELSE (1000 * (2 * six - (n + 1) * sx)) // (n * sx) END AS gini_pm
          |FROM s""".stripMargin)
    }

    // ---- SRM audit: random weights incl. zero-weight arms, vanished
    // and rogue arms ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 12)
      val armNames = (0 until 2 + rnd.nextInt(4)).map(i => s"a$i")
      // the first arm always carries weight (all-zero weight sets are
      // a REQUIRE'd config error — the fuzz run that allowed them
      // found the pre-guard ANSI divide-by-zero); later arms may be 0
      val weights = armNames.zipWithIndex.map { case (a, i) =>
        a -> (if (i > 0 && rnd.nextInt(6) == 0) 0L else 1L + rnd.nextInt(20)) }
      // observed arms: mostly expected, sometimes a rogue, sometimes a
      // vanished expected arm
      val observable = armNames.filter(_ => rnd.nextInt(6) != 0) :+
        (if (rnd.nextInt(3) == 0) "rogue" else armNames.head)
      val t = (0 until 1 + rnd.nextInt(80)).map(i =>
        (i.toLong, observable(rnd.nextInt(observable.size)))).toDF("id", "arm")
      val totalW = weights.map(_._2).sum
      val vals = weights.map { case (a, w) => s"('$a', CAST($w AS BIGINT))" }.mkString(", ")
      dump("srm", seed, Map("t" -> t),
        graft.quality.Validate.srmAudit(t, col("arm"), weights),
        s"""WITH c AS (SELECT arm, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY arm),
           |e AS (SELECT * FROM (VALUES $vals) AS v(arm, expected_w)),
           |j AS (SELECT coalesce(e.arm, c.arm) AS arm,
           |             CAST(coalesce(c.n, 0) AS BIGINT) AS n,
           |             CAST(coalesce(e.expected_w, 0) AS BIGINT) AS expected_w
           |      FROM e FULL OUTER JOIN c ON e.arm = c.arm),
           |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM j)
           |SELECT arm, n, expected_w,
           |       (1000 * expected_w) // $totalW AS expected_pm,
           |       (1000 * n) // greatest(tot, 1) AS observed_pm,
           |       n * $totalW - expected_w * tot AS dev
           |FROM j CROSS JOIN t2""".stripMargin)
    }

    // ---- LPA communities: random graphs, random round counts —
    // the synchronous rounds replay as a CTE chain ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 13)
      val nNodes = 4 + rnd.nextInt(12)
      val edges = (0 until 5 + rnd.nextInt(40)).map(_ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val e = edges.toDF("src", "dst")
        val iters = 1 + rnd.nextInt(4)
        def round(prev: String, cur: String): String =
          s"""$cur AS (
             |  SELECT id, label FROM (
             |    SELECT s.a AS id, l.label, count(*) AS c,
             |           row_number() OVER (PARTITION BY s.a
             |                              ORDER BY count(*) DESC, l.label ASC) AS rn
             |    FROM sym s JOIN $prev l ON s.b = l.id
             |    GROUP BY s.a, l.label) WHERE rn = 1)""".stripMargin
        val chain = (1 to iters).map(i => round(s"l${i - 1}", s"l$i")).mkString(",\n")
        dump("lpa", seed, Map("e" -> e),
          graft.operators.GraphOps.labelPropagation(e, iters),
          s"""WITH e0 AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
             |sym AS (SELECT src AS a, dst AS b FROM e0 UNION SELECT dst, src FROM e0),
             |l0 AS (SELECT DISTINCT a AS id, a AS label FROM sym),
             |$chain
             |SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label FROM l$iters""".stripMargin)
      }
    }

    // ---- substring-span dedup: tiny vocabulary forces dense window
    // collisions; random window/minCount; short docs (< window) must
    // fall out of the window stream, not crash it ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 8)
      val docs = (0 until 2 + rnd.nextInt(20)).map { i =>
        val toks = 1 + rnd.nextInt(20)
        (i.toLong, (0 until toks).map(_ => s"t${rnd.nextInt(5)}").mkString(" "))
      }.toDF("doc_id", "text")
      val w = 2 + rnd.nextInt(3)
      val mc = 2 + rnd.nextInt(2)
      dump("substring_spans", seed, Map("documents" -> docs),
        graft.dedup.SubstringDedup.duplicatedSpans(
          docs, col("text"), col("doc_id"), windowTokens = w, minCount = mc),
        raw"""WITH toks AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
             |),
             |w0 AS (SELECT doc_id, unnest(range(len(t) - $w + 1)) AS p, t FROM toks),
             |wins AS (
             |  SELECT doc_id, p, md5(array_to_string(t[p+1:p+$w], ' ')) AS h FROM w0),
             |dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= $mc),
             |cov AS (SELECT doc_id, p FROM wins JOIN dup USING (h)),
             |m AS (
             |  SELECT doc_id, p,
             |         CASE WHEN p <= coalesce(max(p) OVER (PARTITION BY doc_id ORDER BY p
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000000)
             |                + $w THEN 0 ELSE 1 END AS brk
             |  FROM cov
             |),
             |g AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid FROM m)
             |SELECT doc_id, min(p) AS span_start, max(p) + $w - 1 AS span_end,
             |       CAST(count(*) AS BIGINT) AS n_windows
             |FROM g GROUP BY doc_id, gid""".stripMargin)
    }

    // ---- exact AUC: the oracle is the BRUTE-FORCE Mann–Whitney pair
    // count (concordant×2 + ties), independent of the operator's
    // rank-sum identity; groups with no positives / no negatives must
    // report NULL, heavy score ties exercise the tie-averaged ranks ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 9)
      val ng = 1 + rnd.nextInt(4)
      val scoreRange = 1 + rnd.nextInt(10) // tiny range → dense ties
      val posBias = rnd.nextInt(4) // some seeds make all-pos groups likely
      val t = (0 until 1 + rnd.nextInt(60)).map { _ =>
        ("g" + rnd.nextInt(ng), rnd.nextInt(scoreRange).toLong,
          rnd.nextInt(4) > posBias)
      }.toDF("g", "s", "pos")
      dump("auc", seed, Map("t" -> t),
        graft.quality.Eval.aucExact(t, col("g"), col("s"), col("pos")),
        """WITH c AS (
          |  SELECT g, CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          |         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
          |  FROM t GROUP BY g),
          |pr AS (
          |  SELECT a.g,
          |         CAST(sum(CASE WHEN a.s > b.s THEN 2
          |                       WHEN a.s = b.s THEN 1 ELSE 0 END) AS BIGINT) AS num
          |  FROM t a JOIN t b ON a.g = b.g AND a.pos AND NOT b.pos
          |  GROUP BY a.g)
          |SELECT c.g, n_pos, n_neg,
          |       coalesce(num, 0) AS auc_num,
          |       2 * n_pos * n_neg AS auc_den,
          |       CASE WHEN n_pos * n_neg = 0 THEN NULL
          |            ELSE (coalesce(num, 0) * 1000) // (2 * n_pos * n_neg)
          |       END AS auc_milli
          |FROM c LEFT JOIN pr ON c.g = pr.g""".stripMargin)
    }

    // ---- Kaplan–Meier: random censor windows (0 = everyone churns,
    // huge = everyone censored), bucket sizes from 1 (a row per
    // lifetime tick) past the span, single-event users, negative
    // timestamps; the d = n exact-zero row must be NULL from there on ----
    def qlogSql(x: String): String =
      s"(64 * (length(bin($x)) - 1) + " +
        s"CAST(floor(($x * 64) / pow(2, length(bin($x)) - 1)) AS BIGINT) - 64)"
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 10)
      val nu = 1 + rnd.nextInt(25)
      val ev = (1 to nu).flatMap { u =>
        (0 to rnd.nextInt(4)).map(_ =>
          (u.toLong, rnd.nextInt(200).toLong - 50L))
      }.toDF("id", "us")
      val w = Seq(0L, 1L, 13L, 60L, 100000L)(rnd.nextInt(5))
      val b = Seq(1L, 4L, 30L, 1000L)(rnd.nextInt(4))
      dump("kaplan_meier", seed, Map("ev" -> ev),
        graft.operators.Timeseries.kaplanMeier(
          ev, col("id"), col("us"), censorWindowUs = w, bucketUs = b),
        s"""WITH spans AS (
           |  SELECT id, CAST(min(us) AS BIGINT) AS f, CAST(max(us) AS BIGINT) AS l
           |  FROM ev GROUP BY id),
           |h AS (SELECT max(l) AS h FROM spans),
           |pu AS (SELECT (l - f) // $b AS t,
           |              CASE WHEN h - l >= $w THEN 1 ELSE 0 END AS obs
           |       FROM spans CROSS JOIN h),
           |tbl AS (SELECT t, CAST(sum(obs) AS BIGINT) AS n_churn,
           |               CAST(sum(1 - obs) AS BIGINT) AS n_censored
           |        FROM pu GROUP BY t),
           |r AS (SELECT t, n_churn, n_censored,
           |             CAST(sum(n_churn + n_censored) OVER (ORDER BY t DESC
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
           |      FROM tbl),
           |st AS (SELECT t, n_risk, n_churn, n_censored,
           |              CASE WHEN n_churn = n_risk THEN NULL
           |                   ELSE ${qlogSql("(n_risk - n_churn)")} - ${qlogSql("n_risk")}
           |              END AS step,
           |              max(CASE WHEN n_churn = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
           |       FROM r)
           |SELECT t, n_risk, n_churn, n_censored,
           |       CASE WHEN dead = 1 THEN NULL
           |            ELSE CAST(sum(step) OVER (ORDER BY t
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |       END AS km_q64
           |FROM st""".stripMargin)
    }

    // ---- Spearman: dense-tie frames so the tie-averaged 2×ranks do
    // real work; constant columns must NULL; the final double must
    // agree bit-for-bit across engines (exact integer moments →
    // correctly-rounded sqrt/divide) ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 11)
      val ng = 1 + rnd.nextInt(3)
      val xr = 1 + rnd.nextInt(8)
      val yr = 1 + rnd.nextInt(8)
      val t = (0 until 2 + rnd.nextInt(50)).map { _ =>
        ("g" + rnd.nextInt(ng),
          if (rnd.nextInt(10) == 0) 5L else rnd.nextInt(xr).toLong,
          rnd.nextInt(yr).toLong)
      }.toDF("g", "x", "y")
      dump("spearman", seed, Map("t" -> t),
        graft.operators.Relational.RelationalOps(t)
          .spearman(Seq(col("g")), col("x"), col("y")),
        """WITH r AS (
          |  SELECT g,
          |         2 * rank() OVER (PARTITION BY g ORDER BY x)
          |           + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
          |         2 * rank() OVER (PARTITION BY g ORDER BY y)
          |           + count(*) OVER (PARTITION BY g, y) - 1 AS ry
          |  FROM t
          |), a AS (
          |  SELECT g, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
          |         sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
          |  FROM r GROUP BY g
          |)
          |SELECT g, CAST(n AS BIGINT) AS n,
          |       CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
          |            ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
          |                 (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
          |                  sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
          |       END AS rho
          |FROM a""".stripMargin)
    }

    // ---- TWAP: dense timestamp ties (the stated value-largest-
    // carries-the-gap rule must replay), negative values through the
    // split milli division, singleton keys → NULL ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 12)
      val nk = 1 + rnd.nextInt(4)
      val tsRange = 1 + rnd.nextInt(12) // tiny → many exact ts ties
      val t = (0 until 1 + rnd.nextInt(40)).map { _ =>
        ("k" + rnd.nextInt(nk), rnd.nextInt(tsRange).toLong,
          rnd.nextInt(200).toLong - 60L)
      }.toDF("k", "us", "v")
      dump("twap", seed, Map("t" -> t),
        graft.operators.Timeseries.timeWeightedAvg(t, col("k"), col("us"), col("v")),
        """WITH l AS (
          |  SELECT k AS key, us, v,
          |         lead(us) OVER (PARTITION BY k ORDER BY us, v) - us AS dt
          |  FROM t),
          |a AS (SELECT key, CAST(count(*) AS BIGINT) AS n_obs,
          |             CAST(max(us) - min(us) AS BIGINT) AS span_us,
          |             CAST(sum(v * coalesce(dt, 0)) AS BIGINT) AS twap_num,
          |             CAST(sum(coalesce(dt, 0)) AS BIGINT) AS twap_den
          |      FROM l GROUP BY key)
          |SELECT key, n_obs, span_us, twap_num, twap_den,
          |       CASE WHEN twap_den = 0 THEN NULL
          |            ELSE (twap_num // twap_den) * 1000
          |               + ((twap_num % twap_den) * 1000) // twap_den
          |       END AS twap_milli
          |FROM a""".stripMargin)
    }

    // ---- LOO target encoding: singleton keys must NULL, negative
    // targets through the split milli division ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 13)
      val nk = 1 + rnd.nextInt(6)
      val t = (0 until 1 + rnd.nextInt(50)).map { i =>
        (i.toLong, "k" + rnd.nextInt(nk), rnd.nextInt(400).toLong - 150L)
      }.toDF("id", "k", "v")
      dump("target_encode", seed, Map("t" -> t),
        graft.operators.Relational.RelationalOps(t)
          .targetEncodeLoo(col("k"), col("v")),
        """SELECT id, k, v,
          |       CAST(sum(v) OVER (PARTITION BY k) AS BIGINT) - v AS loo_num,
          |       CAST(count(*) OVER (PARTITION BY k) AS BIGINT) - 1 AS loo_den,
          |       CASE WHEN count(*) OVER (PARTITION BY k) = 1 THEN NULL
          |            ELSE ((CAST(sum(v) OVER (PARTITION BY k) AS BIGINT) - v)
          |                   // (count(*) OVER (PARTITION BY k) - 1)) * 1000
          |               + (((CAST(sum(v) OVER (PARTITION BY k) AS BIGINT) - v)
          |                   % (count(*) OVER (PARTITION BY k) - 1)) * 1000)
          |                   // (count(*) OVER (PARTITION BY k) - 1)
          |       END AS loo_milli
          |FROM t""".stripMargin)
    }

    // ---- trimmed mean: random per-mille bounds (incl. degenerate
    // lo = hi and 0/1000), dense value ties, singleton groups, and
    // NULL values (dropped before ranking — the r10 ADVICE NULL
    // contract; an all-NULL group vanishes entirely) ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 14)
      val nk = 1 + rnd.nextInt(4)
      val lo = rnd.nextInt(500).toLong
      val hi = lo + rnd.nextInt((1001 - lo).toInt)
      val t = (0 until 1 + rnd.nextInt(50)).map { _ =>
        ("g" + rnd.nextInt(nk),
          if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(12).toLong - 3L))
      }.toDF("g", "v")
      dump("trimmed_mean", seed, Map("t" -> t),
        graft.operators.Relational.RelationalOps(t)
          .trimmedMean(col("g"), col("v"), lo, hi),
        s"""WITH r AS (
           |  SELECT g, v,
           |         row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
           |         count(*) OVER (PARTITION BY g) AS n
           |  FROM t WHERE v IS NOT NULL),
           |k AS (
           |  SELECT g, CAST(max(n) AS BIGINT) AS n,
           |         CAST(count(*) AS BIGINT) AS n_kept,
           |         CAST(sum(v) AS BIGINT) AS trimmed_sum
           |  FROM r
           |  WHERE rk >= greatest((n * $lo + 999) // 1000, 1)
           |    AND rk <= greatest((n * $hi + 999) // 1000, 1)
           |  GROUP BY g)
           |SELECT g, n, n_kept, trimmed_sum,
           |       (trimmed_sum // n_kept) * 1000
           |         + ((trimmed_sum % n_kept) * 1000) // n_kept AS trimmed_milli
           |FROM k""".stripMargin)
    }

    // ---- incremental cluster ledger: random edge sets split into
    // 1-3 random drops, appended in sequence — the final labeling
    // must equal the one-shot transitive closure (recursive CTE).
    // Edge sets include self-loops (singletons), duplicate edges,
    // and drops that only touch existing clusters ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 16)
      val nNodes = 2 + rnd.nextInt(30)
      val edges = (0 until 1 + rnd.nextInt(40)).map { _ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }
      val t = edges.toDF("a", "b")
      val nDrops = 1 + rnd.nextInt(3)
      // ONE bucket count per ledger — the layout contract the operator
      // enforces (the first sweep of this family resampled it per drop
      // and caught the then-silent duplicate-label corruption)
      val nb = 1 + rnd.nextInt(8)
      val path = java.nio.file.Files.createTempDirectory("fuzz_clusterledger").toString
      for (d <- 0 until nDrops) {
        val drop = edges.zipWithIndex.filter(_._2 % nDrops == d).map(_._1)
        if (drop.nonEmpty)
          graft.dedup.ClusterLedger.append(path, drop.toDF("a", "b"), "a", "b",
            numBuckets = nb)
      }
      dump("cluster_ledger", seed, Map("t" -> t),
        graft.dedup.ClusterLedger.labels(spark, path),
        """WITH RECURSIVE sym AS (
          |  SELECT a AS u, b AS v FROM t
          |  UNION ALL
          |  SELECT b AS u, a AS v FROM t),
          |reach(id, r) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM sym)
          |  UNION
          |  SELECT s.u, re.r FROM sym s JOIN reach re ON s.v = re.id)
          |SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id
          |FROM reach GROUP BY id""".stripMargin)
    }

    // ---- linear reranker: random 2-feature frames (negative values,
    // ties, singleton classes avoided by forced rows) — trained
    // weights AND scores must replay exactly ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 17)
      val rows = (0 until 2 + rnd.nextInt(40)).map { i =>
        (i.toLong, rnd.nextInt(20).toLong - 5L, rnd.nextInt(20).toLong - 5L,
          rnd.nextInt(2))
      } ++ Seq( // both classes always present
        (1000L, rnd.nextInt(20).toLong - 5L, rnd.nextInt(20).toLong - 5L, 1),
        (1001L, rnd.nextInt(20).toLong - 5L, rnd.nextInt(20).toLong - 5L, 0))
      val t = rows.toDF("id", "f1", "f2", "y")
      val w = graft.text.Rerank.trainLinear(t, Seq(col("f1"), col("f2")), col("y"))
      dump("rerank", seed, Map("t" -> t),
        graft.text.Rerank.score(t, Seq(col("f1"), col("f2")), w)
          .select("id", "f1", "f2", "y", "rr_score"),
        """WITH c AS (
          |  SELECT CAST(sum(y) AS BIGINT) AS n_pos,
          |         CAST(sum(1 - y) AS BIGINT) AS n_neg FROM t),
          |s AS (
          |  SELECT CAST(sum(CASE WHEN y = 1 THEN f1 ELSE 0 END) AS BIGINT) AS sp1,
          |         CAST(sum(CASE WHEN y = 0 THEN f1 ELSE 0 END) AS BIGINT) AS sn1,
          |         CAST(sum(CASE WHEN y = 1 THEN f2 ELSE 0 END) AS BIGINT) AS sp2,
          |         CAST(sum(CASE WHEN y = 0 THEN f2 ELSE 0 END) AS BIGINT) AS sn2
          |  FROM t),
          |w AS (
          |  SELECT n_neg * sp1 - n_pos * sn1 AS w1, n_neg * sp2 - n_pos * sn2 AS w2
          |  FROM s CROSS JOIN c)
          |SELECT id, f1, f2, y, f1 * w1 + f2 * w2 AS rr_score
          |FROM t CROSS JOIN w""".stripMargin)
    }

    // ---- exact integer EWMA: random shifts, NEGATIVE values (the
    // truncate-vs-floor divergence zone), duplicate timestamps; even
    // seeds pin maxObs EXACTLY at the hottest key's count — the guard
    // boundary must be > (fail past the cap), not >= (fail at it) ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 18)
      val sft = 1 + rnd.nextInt(6)
      val d = 1L << sft
      val nk = 1 + rnd.nextInt(4)
      val rows = (0 until 1 + rnd.nextInt(60)).map { _ =>
        ("k" + rnd.nextInt(nk), rnd.nextInt(50).toLong, rnd.nextInt(400).toLong - 200L)
      }
      val t = rows.toDF("k", "ts", "v")
      val cap = if (seed % 2 == 0) rows.groupBy(_._1).map(_._2.size).max else 1 << 20
      dump("ewma", seed, Map("t" -> t),
        graft.operators.Timeseries.ewmaByKey(t, col("k"), col("ts"), col("v"), sft,
            maxObs = cap)
          .withColumnRenamed("key", "k"),
        s"""WITH l AS (
           |  SELECT k, CAST(count(*) AS BIGINT) AS n_obs, list(v ORDER BY ts, v) AS xs
           |  FROM t GROUP BY k)
           |SELECT k, n_obs,
           |       CAST(list_reduce(xs, (acc, x) ->
           |         acc + (x - acc - (((x - acc) % $d + $d) % $d)) // $d) AS BIGINT) AS ewma
           |FROM l""".stripMargin)
    }

    // ---- winsorize: NULL-bearing values (the r10 ADVICE case —
    // NULLs must not shift the cutoff ranks and must clamp to NULL,
    // not lo_cut), random bounds, singleton and all-NULL groups ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 15)
      val nk = 1 + rnd.nextInt(4)
      val lo = rnd.nextInt(500).toLong
      val hi = lo + rnd.nextInt((1001 - lo).toInt)
      val t = (0 until 1 + rnd.nextInt(50)).map { i =>
        ("g" + rnd.nextInt(nk),
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(12).toLong - 3L),
          i.toLong)
      }.toDF("g", "v", "id")
      dump("winsorize", seed, Map("t" -> t),
        graft.operators.Relational.RelationalOps(t)
          .winsorize(col("g"), col("v"), lo, hi)
          .select("g", "v", "id", "lo_cut", "hi_cut", "winsorized"),
        s"""WITH nn AS (SELECT g, v FROM t WHERE v IS NOT NULL),
           |r AS (
           |  SELECT g, v,
           |         row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
           |         count(*) OVER (PARTITION BY g) AS n
           |  FROM nn),
           |cuts AS (
           |  SELECT g,
           |         CAST(min(CASE WHEN rk = greatest((n * $lo + 999) // 1000, 1)
           |                       THEN v END) AS BIGINT) AS lo_cut,
           |         CAST(min(CASE WHEN rk = greatest((n * $hi + 999) // 1000, 1)
           |                       THEN v END) AS BIGINT) AS hi_cut
           |  FROM r GROUP BY g)
           |SELECT t.g, t.v, t.id, c.lo_cut, c.hi_cut,
           |       CASE WHEN t.v IS NULL THEN NULL
           |            ELSE least(greatest(t.v, c.lo_cut), c.hi_cut) END AS winsorized
           |FROM t LEFT JOIN cuts c ON t.g = c.g""".stripMargin)
    }

    // ---- ANN-backed mutual-kNN at exhaustive probe settings: random
    // populations × random (numCentroids, k, lloydIters) with
    // nprobe = numCentroids, so the screen covers every cell and the
    // brute reciprocal replay is the exact oracle — the gate's fixed
    // parameter point (q_mutual_knn_ann) never moves; this does ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 19)
      val dim = 3 + rnd.nextInt(6)
      val n = 5 + rnd.nextInt(26)
      val t = (0 until n).map { i =>
        val e = Array.fill(dim)(rnd.nextInt(2000001).toLong - 1000000L)
        // no zero-norm vectors: cosine to a zero vector is NaN and the
        // two engines disagree on NaN ordering; the operator's seed
        // filter excludes them from training anyway
        e(0) = (if (rnd.nextBoolean()) 1L else -1L) * (rnd.nextInt(1000000) + 1).toLong
        (i.toLong, e)
      }.toDF("vec_id", "e")
      val pop = t.withColumn("nrm",
        graft.similarity.Similarity.dotQ(col("e"), col("e")))
      val nc = 1 + rnd.nextInt(6)
      val k = 1 + rnd.nextInt(4)
      val iters = 1 + rnd.nextInt(2)
      dump("mutual_knn_ann", seed, Map("t" -> t),
        graft.similarity.Similarity.mutualKnnAnn(pop, k,
          numCentroids = nc, nprobe = nc, lloydIters = iters),
        s"""WITH q AS (
           |  SELECT vec_id, e,
           |         CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS nrm
           |  FROM t),
           |cand AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS nid,
           |         CAST(CAST(list_sum(list_transform(range(len(a.e)), i -> a.e[i+1] * b.e[i+1])) AS BIGINT) AS DOUBLE)
           |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
           |  FROM q a JOIN q b ON a.vec_id <> b.vec_id),
           |knn AS (
           |  SELECT q_id, nid, cos, rnk FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nid ASC) AS rnk
           |    FROM cand
           |  ) WHERE rnk <= $k)
           |SELECT a.q_id AS id_a, a.nid AS id_b,
           |       CAST(a.rnk AS INTEGER) AS rank_ab,
           |       CAST(b.rnk AS INTEGER) AS rank_ba, a.cos
           |FROM knn a JOIN knn b ON a.q_id = b.nid AND a.nid = b.q_id
           |WHERE a.q_id < a.nid""".stripMargin)
    }

    // ---- warehouse merge: random base + three sequential random
    // drops (updates, deletes, inserts, no-op deletes of absent keys,
    // random bucket counts) vs the sequential full-outer merge replay
    // — the cluster_ledger family's shape, which caught a real bug on
    // its first sweep ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 20)
      val baseIds = rnd.shuffle((0L until 30L).toList).take(5 + rnd.nextInt(15))
      val base = baseIds.map(id => (id, rnd.nextInt(100).toLong)).toDF("id", "v")
      def mkDrop() = {
        val ks = rnd.shuffle((0L until 40L).toList).take(1 + rnd.nextInt(8))
        // first row always an upsert so no merge can empty the table
        ks.zipWithIndex.map { case (id, i) =>
          (id, rnd.nextInt(100).toLong, i > 0 && rnd.nextInt(4) == 0)
        }.toDF("id", "v", "del")
      }
      val (d1, d2, d3) = (mkDrop(), mkDrop(), mkDrop())
      val root = java.nio.file.Files
        .createTempDirectory("fuzz_whmerge").toString + "/t"
      val nb = 1 + rnd.nextInt(8)
      // a third of the seeds run a COMPACT at a random point in the
      // drop sequence — content-preserving by contract, so the oracle
      // is unchanged; this fuzzes merge-after-compact owner maps.
      // Another (independent) third run a REBUCKET to a random new
      // count — also content-preserving, fuzzing merge-after-rebucket
      // layouts (r15)
      val compactAt = if (rnd.nextInt(3) == 0) rnd.nextInt(3) else -1
      val rebucketAt = if (rnd.nextInt(3) == 0) rnd.nextInt(3) else -1
      val newNb = 1 + rnd.nextInt(12)
      require(graft.sources.Versioned.promoteBucketed(base, root, "id", nb).promoted)
      Seq(d1, d2, d3).zipWithIndex.foreach { case (d, i) =>
        if (i == compactAt)
          require(graft.sources.Versioned.compact(spark, root).promoted)
        if (i == rebucketAt)
          require(graft.sources.Versioned.rebucket(spark, root, newNb).promoted)
        require(graft.sources.Versioned.merge(d, root, deleted = col("del")).merged)
      }
      dump("warehouse_merge", seed,
        Map("base" -> base, "d1" -> d1, "d2" -> d2, "d3" -> d3),
        graft.sources.Versioned.read(spark, root),
        """WITH m0 AS (SELECT id, v FROM base),
          |m1 AS (SELECT m0.id, m0.v FROM m0 LEFT JOIN d1 ON m0.id = d1.id WHERE d1.id IS NULL
          |       UNION ALL SELECT id, v FROM d1 WHERE NOT del),
          |m2 AS (SELECT m1.id, m1.v FROM m1 LEFT JOIN d2 ON m1.id = d2.id WHERE d2.id IS NULL
          |       UNION ALL SELECT id, v FROM d2 WHERE NOT del),
          |m3 AS (SELECT m2.id, m2.v FROM m2 LEFT JOIN d3 ON m2.id = d3.id WHERE d3.id IS NULL
          |       UNION ALL SELECT id, v FROM d3 WHERE NOT del)
          |SELECT id, v FROM m3""".stripMargin)
    }

    // ---- composite-key warehouse merge (r15): the warehouse_merge
    // shape keyed on a (src, id) TUPLE — random drops reuse ids under
    // other sources (exactly the rows a single-column key would
    // collide on), random rebuckets, oracle joins on BOTH columns ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 31)
      val srcs = Vector("a", "b", "c")
      def mkKeys(n: Int) = rnd.shuffle(
        (for (s0 <- srcs; id <- 0L until 12L) yield (s0, id)).toList).take(n)
      val base = mkKeys(6 + rnd.nextInt(10))
        .map { case (s0, id) => (s0, id, rnd.nextInt(100).toLong) }
        .toDF("src", "id", "v")
      def mkDrop() = mkKeys(1 + rnd.nextInt(6)).zipWithIndex.map { case ((s0, id), i) =>
        (s0, id, rnd.nextInt(100).toLong, i > 0 && rnd.nextInt(4) == 0)
      }.toDF("src", "id", "v", "del")
      val (d1, d2) = (mkDrop(), mkDrop())
      val root = java.nio.file.Files
        .createTempDirectory("fuzz_whmerge2").toString + "/t"
      val nb = 1 + rnd.nextInt(8)
      require(graft.sources.Versioned.promoteBucketed(base, root, "src,id", nb).promoted)
      Seq(d1, d2).zipWithIndex.foreach { case (d, i) =>
        if (i == 1 && rnd.nextInt(3) == 0)
          require(graft.sources.Versioned.rebucket(spark, root, 1 + rnd.nextInt(12)).promoted)
        require(graft.sources.Versioned.merge(d, root, deleted = col("del")).merged)
      }
      dump("warehouse_merge_composite", seed,
        Map("base" -> base, "d1" -> d1, "d2" -> d2),
        graft.sources.Versioned.read(spark, root),
        """WITH m0 AS (SELECT src, id, v FROM base),
          |m1 AS (SELECT m0.src, m0.id, m0.v FROM m0
          |       LEFT JOIN d1 ON m0.src = d1.src AND m0.id = d1.id WHERE d1.id IS NULL
          |       UNION ALL SELECT src, id, v FROM d1 WHERE NOT del),
          |m2 AS (SELECT m1.src, m1.id, m1.v FROM m1
          |       LEFT JOIN d2 ON m1.src = d2.src AND m1.id = d2.id WHERE d2.id IS NULL
          |       UNION ALL SELECT src, id, v FROM d2 WHERE NOT del)
          |SELECT src, id, v FROM m2""".stripMargin)
    }

    // ---- merge-on-read patches (r15): the warehouse_merge shape with
    // each drop applied via PATCH (delta layer) or MERGE at random,
    // random folds/compacts between them, and a crash injected into a
    // random patch on a third of the seeds — the oracle is the same
    // sequential full-outer replay, so a stale shadowed row, a lost
    // layer, a fold that resurrects a deleted key, or a crash replay
    // that double-applies a layer all mismatch ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 47)
      val baseIds = rnd.shuffle((0L until 30L).toList).take(5 + rnd.nextInt(15))
      val base = baseIds.map(id => (id, rnd.nextInt(100).toLong)).toDF("id", "v")
      def mkDrop() = {
        val ks = rnd.shuffle((0L until 40L).toList).take(1 + rnd.nextInt(8))
        ks.zipWithIndex.map { case (id, i) =>
          (id, rnd.nextInt(100).toLong, i > 0 && rnd.nextInt(4) == 0)
        }.toDF("id", "v", "del")
      }
      val (d1, d2, d3) = (mkDrop(), mkDrop(), mkDrop())
      val root = java.nio.file.Files
        .createTempDirectory("fuzz_whpatch").toString + "/t"
      val nb = 1 + rnd.nextInt(8)
      val foldAt = if (rnd.nextInt(2) == 0) rnd.nextInt(3) else -1
      val compactAt = if (rnd.nextInt(3) == 0) rnd.nextInt(3) else -1
      val crashAt = if (rnd.nextInt(3) == 0) rnd.nextInt(3) else -1
      val points = Vector("staged", "claimed", "renamed", "chain")
      val point = points(rnd.nextInt(points.length))
      require(graft.sources.Versioned.promoteBucketed(base, root, "id", nb).promoted)
      Seq(d1, d2, d3).zipWithIndex.foreach { case (d, i) =>
        if (i == foldAt) {
          val f = graft.sources.Versioned.foldDeltas(spark, root)
          require(f.merged || f.reason.exists(_.contains("no delta layers")),
            s"seed $seed: fold refused: ${f.reason}")
        }
        if (i == compactAt)
          require(graft.sources.Versioned.compact(spark, root).promoted)
        val usePatch = rnd.nextInt(2) == 0
        if (usePatch && i == crashAt) {
          Seams.crashAt(s"versioned.$point")
          val killed =
            try { graft.sources.Versioned.patch(d, root, deleted = col("del")); None }
            catch { case t: Throwable => Some(t) }
            finally Seams.disarm()
          require(killed.exists(_.getMessage.contains("simulated crash")),
            s"seed $seed: expected a simulated patch crash at '$point', got $killed")
          require(graft.sources.Versioned.read(spark, root).count() >= 0)
          Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
            .filter(_.getName.startsWith("_claim_"))
            .foreach(_.setLastModified(System.currentTimeMillis() - 10000))
        }
        if (usePatch)
          require(graft.sources.Versioned.patch(d, root, deleted = col("del")).patched,
            s"seed $seed: patch of drop $i must commit")
        else
          require(graft.sources.Versioned.merge(d, root, deleted = col("del")).merged,
            s"seed $seed: merge of drop $i must commit")
      }
      dump("warehouse_patch", seed,
        Map("base" -> base, "d1" -> d1, "d2" -> d2, "d3" -> d3),
        graft.sources.Versioned.read(spark, root),
        """WITH m0 AS (SELECT id, v FROM base),
          |m1 AS (SELECT m0.id, m0.v FROM m0 LEFT JOIN d1 ON m0.id = d1.id WHERE d1.id IS NULL
          |       UNION ALL SELECT id, v FROM d1 WHERE NOT del),
          |m2 AS (SELECT m1.id, m1.v FROM m1 LEFT JOIN d2 ON m1.id = d2.id WHERE d2.id IS NULL
          |       UNION ALL SELECT id, v FROM d2 WHERE NOT del),
          |m3 AS (SELECT m2.id, m2.v FROM m2 LEFT JOIN d3 ON m2.id = d3.id WHERE d3.id IS NULL
          |       UNION ALL SELECT id, v FROM d3 WHERE NOT del)
          |SELECT id, v FROM m3""".stripMargin)
    }

    // ---- warehouse crash: the warehouse_merge shape with a simulated
    // KILL injected at a random point of a random drop's publish
    // sequence (after staging / holding the commit-slot claim / after
    // the directory rename / between the chain entry and the pointer
    // swap), then a replay of the killed drop. The oracle is the
    // UNINTERRUPTED sequential merge replay: a crash plus its retry
    // must be invisible in the final content, whatever the kill point
    // stranded (staging orphan, held claim, renamed-but-unpublished
    // slot, orphan chain entry). Crash-point fuzz is the axis the r12
    // racing specs did not cover. ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 21)
      val baseIds = rnd.shuffle((0L until 30L).toList).take(5 + rnd.nextInt(15))
      val base = baseIds.map(id => (id, rnd.nextInt(100).toLong)).toDF("id", "v")
      def mkDrop() = {
        val ks = rnd.shuffle((0L until 40L).toList).take(1 + rnd.nextInt(8))
        ks.zipWithIndex.map { case (id, i) =>
          (id, rnd.nextInt(100).toLong, i > 0 && rnd.nextInt(4) == 0)
        }.toDF("id", "v", "del")
      }
      val (d1, d2, d3) = (mkDrop(), mkDrop(), mkDrop())
      val root = java.nio.file.Files
        .createTempDirectory("fuzz_whcrash").toString + "/t"
      val nb = 1 + rnd.nextInt(8)
      val points = Vector("staged", "claimed", "renamed", "chain")
      val crashAt = rnd.nextInt(3)
      val point = points(rnd.nextInt(points.length))
      require(graft.sources.Versioned.promoteBucketed(base, root, "id", nb).promoted)
      Seq(d1, d2, d3).zipWithIndex.foreach { case (d, i) =>
        if (i == crashAt) {
          Seams.crashAt(s"versioned.$point")
          val killed =
            try { graft.sources.Versioned.merge(d, root, deleted = col("del")); None }
            catch { case t: Throwable => Some(t) }
            finally Seams.disarm()
          require(killed.exists(_.getMessage.contains("simulated crash")),
            s"seed $seed: expected a simulated crash at '$point', got $killed")
          // a reader between crash and retry must still see a
          // consistent pre-crash version
          require(graft.sources.Versioned.read(spark, root).count() >= 0)
          // age the stranded claim past the steal-slack window: the
          // replay models a retry AFTER the crash is judged dead, not
          // a same-instant one (which correctly refuses a fresh claim)
          Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
            .filter(_.getName.startsWith("_claim_"))
            .foreach(_.setLastModified(System.currentTimeMillis() - 10000))
        }
        require(graft.sources.Versioned.merge(d, root, deleted = col("del")).merged,
          s"seed $seed: replay after '$point' crash must commit")
      }
      dump("warehouse_crash", seed,
        Map("base" -> base, "d1" -> d1, "d2" -> d2, "d3" -> d3),
        graft.sources.Versioned.read(spark, root),
        """WITH m0 AS (SELECT id, v FROM base),
          |m1 AS (SELECT m0.id, m0.v FROM m0 LEFT JOIN d1 ON m0.id = d1.id WHERE d1.id IS NULL
          |       UNION ALL SELECT id, v FROM d1 WHERE NOT del),
          |m2 AS (SELECT m1.id, m1.v FROM m1 LEFT JOIN d2 ON m1.id = d2.id WHERE d2.id IS NULL
          |       UNION ALL SELECT id, v FROM d2 WHERE NOT del),
          |m3 AS (SELECT m2.id, m2.v FROM m2 LEFT JOIN d3 ON m2.id = d3.id WHERE d3.id IS NULL
          |       UNION ALL SELECT id, v FROM d3 WHERE NOT del)
          |SELECT id, v FROM m3""".stripMargin)
    }

    // ---- index compaction: the TableCompact publish path under
    // randomized drop sequences, compaction points, and injected
    // crashes (r14 — the new publish path gets its crash fuzz, the
    // warehouse_crash discipline). A postings search index is created
    // from a random base, grows by appended drops, is compacted at a
    // random point of the sequence — a third of compactions are
    // KILLED at a random TableCompact seam ('staged': an orphan staged
    // generation, live view untouched; 'swapped': the atomic view swap
    // already COMMITTED — r15 zero-downtime layout, the name is never
    // missing) and the retry must converge either way — then probed
    // with random
    // phrases: the occurrence counts must equal the from-scratch
    // phrase replay whatever the append/compact/crash history was. ----
    for (seed <- 0 until seeds) {
      val rnd = new Random(seed * 7919 + 27)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
      def mkText() = (0 until 3 + rnd.nextInt(10))
        .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val nBase = 3 + rnd.nextInt(8)
      val nDrops = 1 + rnd.nextInt(2)
      val all = (0 until nBase + 4 * nDrops).map(i => (i.toLong, mkText()))
      val docs = all.toDF("doc_id", "text")
      val base = all.take(nBase).toDF("doc_id", "text")
      val drops = (0 until nDrops).map(d =>
        all.slice(nBase + 4 * d, nBase + 4 * (d + 1)).toDF("doc_id", "text"))
      val phrases = (0 until 1 + rnd.nextInt(3)).map { p =>
        val len = 1 + rnd.nextInt(3)
        (s"p$p", (0 until len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("phrase_id", "ptext")

      val wh = java.nio.file.Files.createTempDirectory("fuzz_idxcompact").toString
      val db = s"fuzz_idx_$seed"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh'")
      try {
        val table = s"$db.posts"
        graft.text.SearchIndex.create(base, col("text"), col("doc_id"), table,
          nBuckets = 1 + rnd.nextInt(4))
        val compactAt = rnd.nextInt(nDrops + 1) // 0 = right after create
        def maybeCompact(point: Int): Unit = if (point == compactAt) {
          if (rnd.nextInt(3) == 0) {
            Seams.crashAt(if (rnd.nextBoolean()) "compact.staged" else "compact.swapped")
            val killed =
              try { graft.text.SearchIndex.compact(spark, table); None }
              catch { case t: Throwable => Some(t) }
              finally Seams.disarm()
            require(killed.exists(_.getMessage.contains("simulated crash")),
              s"seed $seed: expected a simulated compact crash, got $killed")
          }
          // the retry (or the only attempt) heals whatever a crash
          // stranded, then consolidates to one base partition
          val st = graft.text.SearchIndex.compact(spark, table)
          require(st.partitionsAfter == 1,
            s"seed $seed: compact left ${st.partitionsAfter} partitions")
        }
        maybeCompact(0)
        drops.zipWithIndex.foreach { case (d, i) =>
          graft.text.SearchIndex.append(d, col("text"), col("doc_id"), table, dropId = s"d$i")
          maybeCompact(i + 1)
        }
        dump("index_compact", seed,
          Map("docs" -> docs, "phrases" -> phrases),
          graft.text.SearchIndex.probe(spark, table, phrases, col("ptext"), col("phrase_id")),
          """WITH toks AS (
            |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM docs),
            |ph AS (
            |  SELECT phrase_id, string_split_regex(trim(lower(ptext)), '\s+') AS pt FROM phrases),
            |jp AS (
            |  SELECT ph.phrase_id, toks.doc_id, t, pt
            |  FROM toks CROSS JOIN ph WHERE len(t) >= len(pt)),
            |hit AS (
            |  SELECT phrase_id, doc_id, (t[s+1:s+len(pt)] = pt) AS ok FROM (
            |    SELECT phrase_id, doc_id, t, pt,
            |           unnest(range(len(t) - len(pt) + 1)) AS s FROM jp))
            |SELECT phrase_id AS phrase, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
            |FROM hit WHERE ok GROUP BY 1, 2""".stripMargin)
      } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }

    cases
  }
}
