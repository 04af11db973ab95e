package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series joins Spark has no native operator for (SURVEY.md
  * §2.2 extension; the "as-of / range join" class the DataFrame API
  * can't express as a single equi-join).
  *
  * Both are built as shuffle-friendly compositions — no
  * BroadcastNestedLoopJoin, no inequality-join cross products:
  *
  *   - [[asofJoin]]: union the two sides, one window pass with a
  *     carry-forward (`last(_, ignoreNulls)`) over (key, time) —
  *     O(n log n) in the partition, single shuffle on the key.
  *   - [[rangeJoinBucketed]]: quantize intervals to time buckets,
  *     equi-join points on (key, bucket), post-filter the exact
  *     range — the standard bucketed range-join optimization; each
  *     (point, interval) pair meets in exactly one bucket (the
  *     point's), so no dedup is needed.
  */
object TemporalJoins {

  /** For each left row, attach the payload of the latest right row of
    * the same `key` with `rightTs <= leftTs` (ASOF left join).
    *
    * `payload` columns must exist on `right` (and must not collide
    * with left column names); they come back null-filled for left rows
    * with no earlier right row. Timestamps are integral (epoch µs) for
    * engine portability.
    *
    * Determinism: the payload travels as ONE struct (all columns from
    * the same right row) and the window ordering tie-breaks equal
    * (key, ts) right rows by the struct value itself, so the result is
    * shuffle-order independent even with duplicate right timestamps.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTsUs: Column,
      rightTsUs: Column,
      payload: Seq[String]
  ): DataFrame = {
    val leftCols = left.columns
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(p => org.apache.spark.sql.types.StructField(p, right.schema(p).dataType)))
    val lTagged = left
      .withColumn("__ts", leftTsUs)
      .withColumn("__tag", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
      .select(col(key) +: col("__ts") +: col("__tag") +: col("__payload") +:
        leftCols.filter(_ != key).map(col): _*)
    val rTagged = right
      .withColumn("__ts", rightTsUs)
      .withColumn("__tag", lit(0))
      .select(col(key), col("__ts"), col("__tag"), struct(payload.map(col): _*).as("__payload"))
    // right rows sort before left rows at equal ts (ASOF includes ==);
    // equal (key, ts) right rows tie-break on the payload struct so the
    // carried value is deterministic.
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("__ts").asc, col("__tag").asc, col("__payload").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTagged.unionByName(rTagged, allowMissingColumns = true)
      .withColumn("__carried", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ payload.map(p => col("__carried").getField(p).as(p)): _*)
  }

  /** Forward as-of join: each left row picks the EARLIEST right row
    * of the same key with right ts ≥ left ts — "time to next event"
    * (next deploy after the alert, next purchase after the click).
    * Same union + running-window machinery as [[asofJoin]] with the
    * traversal reversed (ts desc), so it inherits the single-shuffle,
    * no-range-explosion shape; equal (key, ts) right rows tie-break
    * on the payload struct for determinism. */
  def asofJoinForward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTsUs: Column,
      rightTsUs: Column,
      payload: Seq[String]
  ): DataFrame = {
    val leftCols = left.columns
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(p => org.apache.spark.sql.types.StructField(p, right.schema(p).dataType)))
    val lTagged = left
      .withColumn("__ts", leftTsUs)
      .withColumn("__tag", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
      .select(col(key) +: col("__ts") +: col("__tag") +: col("__payload") +:
        leftCols.filter(_ != key).map(col): _*)
    val rTagged = right
      .withColumn("__ts", rightTsUs)
      .withColumn("__tag", lit(0))
      .select(col(key), col("__ts"), col("__tag"), struct(payload.map(col): _*).as("__payload"))
    // DESC traversal: right rows still sort before left rows at equal
    // ts (forward ASOF includes ==), so the carried value at a left
    // row is the nearest right row at-or-after it.
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("__ts").desc, col("__tag").asc, col("__payload").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTagged.unionByName(rTagged, allowMissingColumns = true)
      .withColumn("__carried", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ payload.map(p => col("__carried").getField(p).as(p)): _*)
  }

  /** Nearest as-of join: each left row picks whichever right row of
    * its key is CLOSEST in time, before or after (ties go backward) —
    * sensor alignment, "which snapshot does this event belong to".
    * ONE union and one key shuffle: both directional carries are
    * windows over the same partitioning (ascending and descending
    * traversals), then a per-row comparison picks the closer side.
    * `rightTsField` names the payload field holding the right
    * timestamp (µs), needed for the distance compare. */
  def asofJoinNearest(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTsUs: Column,
      rightTsUs: Column,
      payload: Seq[String],
      rightTsField: String
  ): DataFrame = {
    require(payload.contains(rightTsField),
      s"payload must include the right-timestamp field $rightTsField")
    val leftCols = left.columns
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(p => org.apache.spark.sql.types.StructField(p, right.schema(p).dataType)))
    val lTagged = left
      .withColumn("__ts", leftTsUs)
      .withColumn("__tag", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
      .select(col(key) +: col("__ts") +: col("__tag") +: col("__payload") +:
        leftCols.filter(_ != key).map(col): _*)
    val rTagged = right
      .withColumn("__ts", rightTsUs)
      .withColumn("__tag", lit(0))
      .select(col(key), col("__ts"), col("__tag"), struct(payload.map(col): _*).as("__payload"))
    val wBack = Window.partitionBy(col(key))
      .orderBy(col("__ts").asc, col("__tag").asc, col("__payload").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col(key))
      .orderBy(col("__ts").desc, col("__tag").asc, col("__payload").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val both = lTagged.unionByName(rTagged, allowMissingColumns = true)
      .withColumn("__back", last(col("__payload"), ignoreNulls = true).over(wBack))
      .withColumn("__fwd", last(col("__payload"), ignoreNulls = true).over(wFwd))
    val bTs = col("__back").getField(rightTsField)
    val fTs = col("__fwd").getField(rightTsField)
    val picked = when(col("__back").isNull, col("__fwd"))
      .when(col("__fwd").isNull, col("__back"))
      .when(col("__ts") - bTs <= fTs - col("__ts"), col("__back"))
      .otherwise(col("__fwd"))
    both.filter(col("__tag") === 1)
      .withColumn("__pick", picked)
      .select(leftCols.map(col) ++ payload.map(p => col("__pick").getField(p).as(p)): _*)
  }

  /** Pairs (point, interval) of the same `key` with
    * `startUs <= pointUs <= endUs`. `bucketUs` should be on the order
    * of the typical interval length: larger buckets → fewer replicas
    * of each interval, more post-filtering; smaller → the reverse. */
  def rangeJoinBucketed(
      points: DataFrame,
      intervals: DataFrame,
      key: String,
      pointUs: Column,
      startUs: Column,
      endUs: Column,
      bucketUs: Long
  ): DataFrame = {
    val iv = intervals
      .withColumn("__start", startUs)
      .withColumn("__end", endUs)
      .withColumn("__b", explode(sequence(floor(col("__start") / bucketUs), floor(col("__end") / bucketUs))))
    val pt = points
      .withColumn("__pt", pointUs)
      .withColumn("__b", floor(col("__pt") / bucketUs))
    pt.join(iv, Seq(key, "__b"))
      .filter(col("__pt") >= col("__start") && col("__pt") <= col("__end"))
      .drop("__b", "__pt", "__start", "__end")
  }

  /** Interval×interval OVERLAP join — the two-sided generalization of
    * [[rangeJoinBucketed]]: pairs of same-`key` intervals with
    * `aStart <= bEnd && bStart <= aEnd`. Both sides replicate to the
    * time buckets they span; the equality join on (key, bucket) is
    * the only exchange, and each qualifying pair is emitted EXACTLY
    * once — in the bucket containing the overlap's start
    * (max(aStart, bStart)) — so no post-join distinct is ever needed
    * (a distinct would re-shuffle the full pair stream, the expensive
    * relation). Caller disambiguates column names before a self-join.
    * `bucketUs` sizing as in [[rangeJoinBucketed]]: near the typical
    * interval length. */
  def intervalJoinBucketed(
      a: DataFrame,
      b: DataFrame,
      key: String,
      aStart: Column,
      aEnd: Column,
      bStart: Column,
      bEnd: Column,
      bucketUs: Long
  ): DataFrame = {
    val l = a
      .withColumn("__as", aStart)
      .withColumn("__ae", aEnd)
      .withColumn("__b", explode(sequence(floor(col("__as") / bucketUs), floor(col("__ae") / bucketUs))))
    val r = b
      .withColumn("__bs", bStart)
      .withColumn("__be", bEnd)
      .withColumn("__b", explode(sequence(floor(col("__bs") / bucketUs), floor(col("__be") / bucketUs))))
    l.join(r, Seq(key, "__b"))
      .filter(col("__as") <= col("__be") && col("__bs") <= col("__ae"))
      .filter(col("__b") === floor(greatest(col("__as"), col("__bs")) / bucketUs))
      .drop("__b", "__as", "__ae", "__bs", "__be")
  }

  /** Top-K co-active entity pairs from an event stream — the
    * packaged form of the [[intervalJoinBucketed]] self-join
    * (SURVEY.md §2.2/22k2): events roll up to per-(user, type, day)
    * activity intervals, interval×interval overlap pairs within the
    * same (day, type) count co-active windows, top `topK` pairs by
    * window count.
    *
    * All-pairs co-activity is inherently quadratic in per-window
    * actives, so the pair stream is HASH-BLOCKED: a pair survives iff
    * both users land in the same portable-hash block — `blocks` = B
    * gives an unbiased 1-in-B pair sample, consistent across windows
    * so each SURVIVING pair's window count stays exact. B is the
    * work-vs-coverage dial at 100 TB; **`blocks = 1` is the EXACT
    * mode** (every user shares block 0 — no sampling, full quadratic
    * cost, bought knowingly; plan shape is identical, so the
    * q_interval_join shuffle budget pins both modes). */
  def coActivePairs(events: DataFrame, user: Column, etype: Column, ts: Column,
      bucketUs: Long, blocks: Int, topK: Int): DataFrame = {
    require(blocks >= 1 && topK >= 1)
    val iv = graft.operators.Checkpoints.eager(
      events
        .groupBy(user.as("__u"), etype.as("__et"),
          date_trunc("DAY", ts).as("__d"),
          pmod(graft.functions.Hashing.portableHash64(user), lit(blocks.toLong)).as("__bk"))
        .agg(min(unix_micros(ts)).as("s_us"), max(unix_micros(ts)).as("e_us"))
        .withColumn("__jk", concat_ws("|", col("__d").cast("string"), col("__et"), col("__bk"))))
    val a = iv.select(col("__u").as("ua"), col("__jk"),
      col("s_us").as("as_us"), col("e_us").as("ae_us"))
    val b = iv.select(col("__u").as("ub"), col("__jk"),
      col("s_us").as("bs_us"), col("e_us").as("be_us"))
    val pairs = intervalJoinBucketed(a, b, "__jk",
      col("as_us"), col("ae_us"), col("bs_us"), col("be_us"), bucketUs)
      .filter(col("ua") < col("ub"))
    pairs.groupBy("ua", "ub").agg(count(lit(1)).as("n_windows"))
      .orderBy(col("n_windows").desc, col("ua").asc, col("ub").asc).limit(topK)
      .withColumn("rank", row_number().over(Window
        .orderBy(col("n_windows").desc, col("ua").asc, col("ub").asc)))
      .select(col("ua").as("user_a"), col("ub").as("user_b"), col("n_windows"), col("rank"))
  }

  /** SCD type-2 dimension builder: turn a change log (one row per
    * attribute change) into validity intervals — each row becomes
    * valid from its own timestamp until the key's NEXT change
    * (exclusive), the current row carrying an open end (null). The
    * interval table is what [[asofJoin]] and [[rangeJoinBucketed]]
    * probe; building it is one window pass per key (single shuffle),
    * timestamps integral (epoch µs) for engine portability.
    *
    * `order` must totally order a key's changes (give it a change-id
    * tiebreak for equal timestamps, or intervals are
    * nondeterministic); plain columns sort ascending, sort columns
    * (`.desc`, `.asc_nulls_last`) keep their direction. `valid_to` of
    * a row equals the next row's `valid_from`, so intervals are
    * contiguous, half-open [from, to) and never overlap. */
  def scd2(df: DataFrame, key: Column, tsUs: Column, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order: _*)
    df.withColumn("valid_from_us", tsUs.cast("long"))
      .withColumn("valid_to_us", lead(tsUs.cast("long"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Multi-touch attribution: for each conversion event, the touch
    * events of the same user in the `windowUs` µs strictly before it,
    * credited to their channels under the three standard models at
    * once — first-touch and last-touch (integer conversion counts;
    * position ties broken by event id, so the credit is deterministic
    * even on equal timestamps) and linear (each of a conversion's n
    * touches earns 1000000 div n micro-credits — exact integer
    * arithmetic, no float accumulation order to disagree across
    * engines or partitions). Conversions with no in-window touch are
    * unattributed and absent, by design; each conversion attributes
    * independently (shared touches credit every conversion they
    * precede — the standard position-based semantics).
    *
    * Scale shape: conversion→touch matching is [[rangeJoinBucketed]]
    * (conversions replicate to the ≤ windowUs/bucketUs + 1 buckets
    * their lookback spans; the (user, bucket) equality join is the
    * only corpus-sized exchange), then ONE conversion-keyed window
    * pass tags each pair with its position and count, and the final
    * channel rollup is channel-cardinality-sized. No per-user
    * collect, no unbounded frame: a user with a million events costs
    * that user's pair stream, not a driver structure. */
  def attribution(events: DataFrame, user: Column, etype: Column, tsUs: Column,
      id: Column, convType: String, touchTypes: Seq[String],
      windowUs: Long, bucketUs: Long): DataFrame = {
    require(windowUs >= 1 && touchTypes.nonEmpty && !touchTypes.contains(convType))
    val conv = events.filter(etype === lit(convType))
      .select(user.as("__u"), tsUs.cast("long").as("__cts"), id.as("__cid"))
      .withColumn("__s", col("__cts") - windowUs)
      .withColumn("__e", col("__cts") - 1)
    val touch = events.filter(etype.isInCollection(touchTypes))
      .select(user.as("__u"), etype.as("channel"), tsUs.cast("long").as("__tts"),
        id.as("__tid"))
    val pairs = rangeJoinBucketed(touch, conv, "__u",
      col("__tts"), col("__s"), col("__e"), bucketUs)
    val byConv = Window.partitionBy("__cid")
    val ordered = byConv.orderBy(col("__tts"), col("__tid"))
    pairs
      .withColumn("__n", count(lit(1)).over(byConv))
      .withColumn("__rn", row_number().over(ordered))
      .groupBy("channel")
      .agg(
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).cast("bigint").as("first_touch"),
        sum(when(col("__rn") === col("__n"), 1L).otherwise(0L)).cast("bigint").as("last_touch"),
        count(lit(1)).as("n_pairs"),
        sum(expr("1000000L div __n")).cast("bigint").as("linear_micro"))
  }
}
