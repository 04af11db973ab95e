package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ClaimHashPartitioned

import graft.operators.Checkpoints

/** Adversarial checks on the partitioning claim that
  * `Checkpoints.eager(df, claim)` carries across a lineage cut. The
  * claim must fire only where the executed plan really left the rows
  * as `HashPartitioning(claim, n)` — a false claim silently drops join
  * matches — and the counting checkpoint must cost no more jobs than
  * Spark's own eager checkpoint. */
class ClaimSpec extends SparkSpecBase {

  private val keyKinds = Seq("long", "string", "null-bearing")

  /** 600 rows over 37 keys `k` of the given type, plus a row id `v`. */
  private def frame(kind: String): DataFrame = {
    val id = col("id")
    val k = kind match {
      case "long"   => id % 37
      case "string" => concat(lit("key-"), (id % 37).cast("string"))
      case _        => when(id % 5 === 0, lit(null).cast("long")).otherwise(id % 37)
    }
    spark.range(0, 600, 1, 5).select(k.as("k"), id.as("v"))
  }

  private def claimOf(df: DataFrame): Option[Int] = df.queryExecution.logical match {
    case ClaimHashPartitioned(_, n, _) => Some(n)
    case _                             => None
  }

  // (layout, frame to checkpoint, claimed keys, the claim expected):
  // only a true HashPartitioning(k, n) may be claimed
  private def layouts(kind: String): Seq[(String, DataFrame, Seq[String], Option[Int])] =
    Seq(1, 3, 8).map(n =>
      (s"repartition($n, k)", frame(kind).repartition(n, col("k")), Seq("k"), Some(n))) ++ Seq(
      ("repartition(k), AQE-coalesced", frame(kind).repartition(col("k")), Seq("k"), None),
      ("repartition(8), round-robin", frame(kind).repartition(8), Seq("k"), None),
      ("repartition(8, v) claimed on k", frame(kind).repartition(8, col("v")), Seq("k"), None),
      ("missing column", frame(kind).repartition(8, col("k")), Seq("no_such_column"), None))

  test("a claim fires on repartition(n, k) for long, string and null-bearing keys") {
    for (kind <- keyKinds; (layout, df, keys, want) <- layouts(kind) if want.isDefined)
      assert(claimOf(Checkpoints.eager(df, keys)) === want, s"$kind keys, $layout")
    Checkpoints.releaseAll()
  }

  test("a claim never fires on a coalesced, round-robin, other-key or unresolved layout") {
    for (kind <- keyKinds; (layout, df, keys, want) <- layouts(kind) if want.isEmpty)
      assert(claimOf(Checkpoints.eager(df, keys)) === None, s"$kind keys, $layout")
    Checkpoints.releaseAll()
  }

  test("a checkpoint joined against an independently exchanged copy loses no match") {
    for (kind <- keyKinds) {
      // self-join matches: Σ count² over the non-null keys
      val expected = frame(kind).filter(col("k").isNotNull).groupBy("k").count()
        .select(sum(col("count") * col("count"))).head().getLong(0)
      for ((layout, df, keys, _) <- layouts(kind)) {
        // sort-merge join (hinted, so no broadcast hides a wrong
        // layout): the planner trusts a claimed side and exchanges
        // only the fresh copy
        val joined = Checkpoints.eager(df, keys).join(frame(kind).hint("merge"), Seq("k"))
        assert(joined.count() === expected, s"$kind keys, $layout")
      }
    }
    Checkpoints.releaseAll()
  }

  test("a claimed side is not re-exchanged by a join on its keys") {
    val n = spark.sessionState.conf.numShufflePartitions * 2
    val ck = Checkpoints.eager(frame("long").repartition(n, col("k")), Seq("k"))
    val plan = ck.join(frame("long").hint("merge"), Seq("k")).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
    Checkpoints.releaseAll()
  }

  test("eagerCount over a shuffle-ending input runs no more jobs than an eager localCheckpoint") {
    def input() = spark.range(0, 2000, 1, 4).groupBy((col("id") % 13).as("k")).count()
    val ((_, rows), counted) = JobCount(spark)(Checkpoints.eagerCount(input()))
    val (_, eager) = JobCount(spark)(input().localCheckpoint(eager = true))
    assert(rows === 13L)
    assert(counted <= eager, s"eagerCount ran $counted jobs, localCheckpoint(eager = true) $eager")
    Checkpoints.releaseAll()
  }

  test("eagerSum reads a bigint column's sum off the same single job; other types refuse") {
    def input() = spark.range(0, 2000, 1, 4).groupBy((col("id") % 13).as("k")).count()
      .withColumn("n", when(col("k") === 0, lit(null)).otherwise(col("count")))
    val ((ck, total), summed) = JobCount(spark)(Checkpoints.eagerSum(input(), "n"))
    val (_, eager) = JobCount(spark)(input().localCheckpoint(eager = true))
    // k = 0 holds ids 0, 13, …, 1989: 154 rows, its null sum counts 0
    assert(total === 2000L - 154L)
    assert(summed <= eager, s"eagerSum ran $summed jobs, localCheckpoint(eager = true) $eager")
    assert(ck.count() === 13L)
    assertThrows[IllegalArgumentException](
      Checkpoints.eagerSum(spark.range(3).selectExpr("CAST(id AS INT) AS i"), "i"))
    Checkpoints.releaseAll()
  }
}
