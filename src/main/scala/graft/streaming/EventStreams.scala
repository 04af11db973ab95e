package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Per-user open-session accumulator for streaming sessionization.
  * Top-level (not nested/private) so Spark's state encoder can codegen
  * its (de)serializers. */
case class SessionState(startUs: Long, endUs: Long, n: Long)
case class LastEventState(us: Long, eventId: Long, state: String)
case class PathWindowState(us: Long, eventId: Long, states: Seq[String])
case class AsofRefState(us: Long, eventId: Long, value: Double)

/** Structured Streaming operators over the events schema
  * (SURVEY.md §2.7). The batch equivalents (`timeBucketAgg`,
  * `sessionize`) share semantics, so the streaming paths are verified
  * against them in StreamingSpec via MemoryStream.
  *
  * Scale notes: watermarks bound state; the windowed aggregate is a
  * standard partial-agg + state-store pattern; sessionization keeps
  * one small state object per active user key and emits sessions on
  * gap timeout — both shapes run unchanged on a 1000-executor
  * cluster with a distributed state store.
  */
object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  /** Full-µs epoch micros from a Timestamp. `getTime` truncates to ms
    * (dropping sub-ms nanos); the events table is µs-precision, so
    * micros are rebuilt from the seconds part + the nanos field. */
  private[graft] def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  case class SessionOut(user_id: Long, session_start_us: Long, session_end_us: Long, n_events: Long)

  /** Hourly tumbling-window counts per event_type with a watermark
    * bounding late data and state. */
  def windowedCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("bigint")).as("value_cents"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("value_cents"))

  /** Stream-static enrichment join: the streaming fact side joins a
    * static dimension per micro-batch. Broadcast the (small) static
    * side — each micro-batch is a broadcast hash join, no stream
    * state. Left join by default: decorating a stream must not drop
    * facts whose key is missing from the dimension (they pass through
    * null-filled). */
  def enriched(events: DataFrame, dim: DataFrame, joinKey: String, joinType: String = "left"): DataFrame =
    events.join(broadcast(dim), Seq(joinKey), joinType)

  /** Stream-stream time-bounded inner join (click→purchase
    * attribution): pair rows of the same `key` where the right event
    * lands in `[leftTs, leftTs + within]`. Both sides carry watermarks
    * so the state store can evict: a left row is droppable once the
    * right watermark passes leftTs + within, a right row once the left
    * watermark passes rightTs — Spark derives both bounds from the
    * time-range predicate, keeping state O(in-flight window), not
    * O(stream). Batch equivalent: `TemporalJoins.rangeJoinBucketed`
    * (verified against it in StreamingSpec).
    *
    * Column requirements: both sides need a `ts` column; non-key
    * column names must be disjoint (standard stream-join hygiene). */
  def joinedWithin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      within: String = "1 hour",
      watermarkDelay: String = "10 minutes"
  ): DataFrame = {
    val l = left.withColumnRenamed("ts", "l_ts").withWatermark("l_ts", watermarkDelay)
    val r = right.withColumnRenamed("ts", "r_ts").withWatermark("r_ts", watermarkDelay)
    l.join(r,
      l(key) === r(key) &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"),
      "inner")
      .drop(r(key))
  }

  /** Incremental batch ingestion — the Spark-idiomatic version of
    * shmr's "process the partitions that arrived since last run":
    * a file-source stream with Trigger.AvailableNow processes exactly
    * the files not yet recorded in the checkpoint, applies `transform`,
    * appends parquet, and exits. Re-running after new files land
    * processes only the delta — exactly-once bookkeeping comes from
    * the checkpoint's file log + sink commit log, replacing shmr's
    * manual .meta tracking. Returns the terminated query's runId.
    *
    * `maxFilesPerTrigger` paces ingest into multiple micro-batches
    * (the production knob for bounding per-batch memory on a large
    * backlog); AvailableNow still drains everything available at
    * start. A crash mid-run is safe: committed batches are recorded
    * in the sink's _spark_metadata log — batch readers see only
    * committed files — and the next run resumes from the file-log
    * offset, reprocessing nothing (verified in StreamingSpec). */
  def incrementalBatch(
      spark: SparkSession,
      inputDir: String,
      schemaDdl: String,
      transform: DataFrame => DataFrame,
      outputDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None
  ): String = {
    val reader = spark.readStream.schema(schemaDdl)
    val in = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .json(inputDir)
    val q = transform(in).writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.runId.toString
  }

  /** The one micro-batch primitive: run `body(batch, batchId)` on
    * every micro-batch of `stream`, with source offsets and the batch
    * commit log kept in `checkpointDir`. Every foreachBatch in graft
    * goes through here — [[upsertToParquet]], [[mergeStream]], the
    * change feeds of [[graft.sources.Versioned]] — and so does any
    * "run a batch operator per trigger" pipeline: call the batch
    * operator inside `body` (a scorer, a screen, a ledger append), so
    * stream and batch results share one code path.
    *
    * Exactly-once contract (Structured Streaming): batch `id` is
    * committed only after `body` returns. A throwing body fails the
    * query with that error; a restart on the same checkpoint
    * re-presents the SAME rows under the SAME id. Output is therefore
    * exactly-once iff `body` is idempotent per id — for example a
    * dynamic partition overwrite keyed by `s"batch-$id"`
    * ([[graft.sources.PartitionedFiles.overwritePartitions]], the
    * per-drop ledger appends), a semilattice fold
    * ([[graft.dedup.ClusterLedger.append]],
    * [[graft.sketch.Sketches.foldPriorityCandidates]]), or a merge of
    * the same drop ([[graft.sources.Versioned.merge]]). A body that
    * hands rows to a non-idempotent sink is at-least-once there.
    *
    * `mode` matters only above an aggregate (`Update` re-emits the
    * changed groups); `trigger` defaults to back-to-back micro-batches,
    * and `AvailableNow` drains what is there and stops. */
  def eachBatch(stream: DataFrame, checkpointDir: String,
      mode: OutputMode = OutputMode.Append(),
      trigger: Trigger = Trigger.ProcessingTime(0L))(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** Join a per-id score frame back onto the batch it was computed
    * from: every batch column plus the score columns. The score side's
    * id is renamed to a reserved name before the join, because
    * dropping a bare "doc_id" would also drop a batch column of that
    * name (drop-by-name removes every match). */
  def withScores(batch: DataFrame, idCol: String, scores: DataFrame,
      scoresId: String): DataFrame = {
    val s = scores.withColumnRenamed(scoresId, "__scores_id")
    batch.join(s, batch(idCol) === col("__scores_id")).drop("__scores_id")
  }

  /** Stream → warehouse upsert: write a streaming aggregate to a
    * partitioned parquet table in update mode, one dynamic partition
    * overwrite per micro-batch — each batch rewrites exactly the
    * partitions it touches (group re-aggregations replace stale rows),
    * leaving the rest of the table untouched and batch-queryable
    * throughout. The standard pattern when the sink must be plain
    * parquet rather than a transactional table format. */
  def upsertToParquet(
      aggregated: DataFrame,
      path: String,
      checkpointDir: String,
      partitionCol: String
  ): StreamingQuery =
    eachBatch(aggregated, checkpointDir, OutputMode.Update()) { (batch, _) =>
      graft.sources.PartitionedFiles.overwritePartitions(batch, path, Seq(partitionCol))
    }

  /** Streaming key-level MERGE publish (38ae) — the CDC-apply tail of
    * the warehouse story: each micro-batch is a drop applied to the
    * bucketed versioned table via [[graft.sources.Versioned.merge]]
    * (upsert by key; rows where `deletedCol` is true delete), so a
    * change stream keeps a 100 TB corpus current at drop cost while
    * every reader stays pinned to a consistent published version.
    * Exactly-once follows from merge semantics plus the [[eachBatch]]
    * replay discipline: only the LAST uncommitted batch is ever re-run,
    * and re-merging the SAME drop is idempotent — the survivor
    * anti-join ∪ identical upserts reproduces the identical table, the
    * replay just publishes a version whose content equals its
    * parent's — so a crash between the merge's atomic manifest swap
    * and the checkpoint advance can neither tear nor double-apply a
    * drop. Batches must be key-unique (a refused merge fails the
    * query); empty batches publish nothing. */
  def mergeStream(
      drops: DataFrame,
      root: String,
      deletedCol: String,
      checkpointDir: String
  ): StreamingQuery =
    eachBatch(drops, checkpointDir) { (batch, _) =>
      if (!batch.isEmpty) {
        val r = graft.sources.Versioned.merge(batch, root, col(deletedCol))
        require(r.merged, s"streaming merge refused: ${r.reason.getOrElse("")}")
      }
    }

  /** Windowed per-source token counts — the streaming half of
    * temperature mixture monitoring: a watermarked tumbling-window
    * aggregate over (window, source), state bounded by #sources ×
    * open windows. Emits closed windows only (append mode); feed the
    * appended rows to [[temperaturePerWindow]] to get the exact α=0.5
    * mixture weights per window. */
  def windowedSourceTokens(docs: DataFrame, tokens: org.apache.spark.sql.Column,
      watermark: String = "1 hour", win: String = "1 hour"): DataFrame =
    docs.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win).as("w"), col("source"))
      .agg(sum(tokens.cast("long")).cast("bigint").as("n_tokens"))
      .select(col("w.start").as("bucket"), col("source"), col("n_tokens"))

  /** Exact α=0.5 temperature weights per closed window — the batch
    * helper for the sink side of [[windowedSourceTokens]]. Bit-matches
    * [[graft.text.TextPrep.temperatureWeights]] run on each window's
    * slice: same one-division share, one-sqrt weight, one-division
    * boost over the window's integer token totals. */
  def temperaturePerWindow(closed: DataFrame): DataFrame = {
    // fresh names on the aggregate side: totals is derived from
    // `closed` itself, and a plain "bucket" join would carry
    // conflicting references into the self-join
    val totals = closed.groupBy("bucket").agg(sum("n_tokens").cast("bigint").as("__total"))
      .withColumnRenamed("bucket", "__tw_bucket")
    closed.join(totals, col("bucket") === col("__tw_bucket"))
      .withColumn("share", col("n_tokens").cast("double") / col("__total"))
      .withColumn("weight", sqrt(col("share")))
      .withColumn("boost", col("weight") / col("share"))
      .drop("__tw_bucket", "__total")
  }

  /** Streaming split-ratio monitor (§2.7/38ab), stream half: per
    * (event-time window, assignment arm) counts under a watermark —
    * the firehose side of "is the experiment bucketing still
    * healthy". One watermarked aggregate; state is one counter per
    * (window, arm). */
  def windowedArmCounts(events: DataFrame, armCol: String,
      watermark: String = "1 hour", win: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win).as("w"), col(armCol).as("arm"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket"), col("arm"), col("n"))

  /** Per-closed-window SRM finalization — the batch helper for the
    * sink side of [[windowedArmCounts]]: every window gets the FULL
    * [[graft.quality.Validate.srmAudit]] report shape, including
    * expected arms that VANISHED in that window (n = 0 — a windowed
    * groupBy alone can never show them) and rogue arms
    * (expected_w = 0). Bit-matches the batch audit run on each
    * window's slice. */
  def srmPerWindow(closed: DataFrame, expected: Seq[(String, Long)]): DataFrame = {
    val spark = closed.sparkSession
    import spark.implicits._
    require(expected.nonEmpty && expected.map(_._2).sum > 0,
      "srmPerWindow: expected weights must sum > 0")
    val totalW = expected.map(_._2).sum
    val exp = expected.toDF("__arm", "__ew")
    // fresh names on the grid side: it derives from `closed` itself,
    // and a shared `bucket` reference makes the join-back ambiguous
    // (the temperaturePerWindow discipline)
    val grid = closed.select(col("bucket").as("__gb")).distinct().crossJoin(exp)
    val counts = closed.select(col("bucket").as("__cb"), col("arm").as("__ca"), col("n"))
    val wWin = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
    grid
      .join(counts,
        col("__gb") === col("__cb") && col("__arm") === col("__ca"), "full_outer")
      .select(coalesce(col("__gb"), col("__cb")).as("bucket"),
        coalesce(col("__arm"), col("__ca")).as("arm"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("__ew"), lit(0L)).as("expected_w"))
      .withColumn("__N", sum(col("n")).over(wWin))
      .withColumn("expected_pm", expr(s"(1000 * expected_w) div ${totalW}L"))
      .withColumn("observed_pm", expr("(1000 * n) div greatest(__N, 1)"))
      .withColumn("dev", col("n") * lit(totalW) - col("expected_w") * col("__N"))
      .select(col("bucket"), col("arm"), col("n"), col("expected_w"),
        col("expected_pm"), col("observed_pm"), col("dev"))
  }

  /** Windowed Benford first-digit counts — the streaming half of the
    * fabrication forensic (Validate.benfordAudit): per (window,
    * digit) observed counts over a positive integral metric, first
    * digit extracted LEXICALLY (exact at power-of-ten boundaries).
    * Plain counts are trivially mergeable, so late data inside the
    * watermark folds in exactly; finalize closed windows with
    * [[benfordPerWindow]] for the full 9-digit audit. */
  def windowedDigitCounts(events: DataFrame, valueCol: org.apache.spark.sql.Column,
      watermark: String = "1 hour", win: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .filter(valueCol.cast("long") > 0)
      .groupBy(window(col("ts"), win).as("w"),
        substring(valueCol.cast("long").cast("string"), 1, 1).cast("int").as("digit"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket"), col("digit"), col("n"))

  /** Per-closed-window Benford finalization — the batch helper for
    * the sink side of [[windowedDigitCounts]]: every window gets the
    * FULL audit shape including unobserved digits (a windowed groupBy
    * alone can never show them), bit-matching
    * [[graft.quality.Validate.benfordAudit]] on that window's slice.
    * A drifting mad_pm across windows is the monitoring signal —
    * "this feed's magnitudes changed character at 14:00". */
  def benfordPerWindow(closed: DataFrame): DataFrame = {
    val spark = closed.sparkSession
    import spark.implicits._
    val exp = graft.quality.Validate.BenfordPm.toDF("__digit", "__ew")
    val grid = closed.select(col("bucket").as("__gb")).distinct().crossJoin(exp)
    val counts = closed.select(col("bucket").as("__cb"), col("digit").as("__cd"), col("n"))
    val wWin = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
    grid
      .join(counts,
        col("__gb") === col("__cb") && col("__digit") === col("__cd"), "left")
      .select(col("__gb").as("bucket"), col("__digit").as("digit"),
        coalesce(col("n"), lit(0L)).as("n"), col("__ew").cast("long").as("expected_pm"))
      .withColumn("__N", sum(col("n")).over(wWin))
      .withColumn("observed_pm", expr("(1000 * n) div greatest(__N, 1)"))
      .withColumn("dev_pm", col("observed_pm") - col("expected_pm"))
      .withColumn("__sumdev", sum(abs(col("dev_pm"))).over(wWin))
      .withColumn("mad_pm", expr("__sumdev div 9"))
      .select("bucket", "digit", "n", "observed_pm", "expected_pm", "dev_pm", "mad_pm")
  }

  /** Streaming exact dedup: drop rows whose `keys` repeat within the
    * watermark window. State stores one entry per key seen, evicted
    * once the watermark passes — so memory is bounded by the key
    * arrival rate × watermark horizon, the standard contract for
    * exactly-once event replay (at-least-once sources re-emit events;
    * this collapses them). Batch equivalent: `distinctBy(keys)`. */
  def deduped(events: DataFrame, keys: Seq[String], watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay).dropDuplicatesWithinWatermark(keys)

  /** Windowed approximate-distinct users per event type: the HLL
    * sketch aggregator runs inside a watermarked streaming aggregate —
    * the state store holds one 4 KiB register array per (window, type)
    * group instead of a distinct-set that grows with cardinality.
    * This is the shape for "distinct users per hour over a firehose":
    * mergeable sketch + bounded watermark state. */
  def windowedDistinctUsers(events: DataFrame, watermark: String = "1 hour", p: Int = 12): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(graft.sketch.Sketches.hll(xxhash64(col("user_id")), p).as("approx_users"))
      .select(col("w.start").as("bucket"), col("event_type"), col("approx_users"))

  /** Streaming windowed key-skew monitor: per (event-time window,
    * event_type), the AMS tug-of-war F2 estimate over the key column
    * — "did a hot key appear in the last hour" answered from 61 longs
    * of state per group, no per-key counts anywhere. Identical
    * register math to the batch [[graft.sketch.Sketches.amsF2]]
    * (same aggregator class), so a window's estimate is bit-equal to
    * running the batch sketch over that window's rows; mergeable
    * buffers give map-side partial reduce and watermark-bounded
    * state, the [[windowedDistinctUsers]] contract. */
  def windowedKeySkew(events: DataFrame, keyCol: String,
      watermark: String = "1 hour", lanes: Int = 60): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.sketch.Sketches.amsF2Agg(
          graft.functions.Hashing.portableHash64(col(keyCol)), lanes).as("f2_est"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("f2_est"))

  /** Streaming heavy hitters: per event-time window, the Misra-Gries
    * candidate set of the most frequent keys (xxhash64'd) plus the
    * window's total count. Same mergeable-Aggregator shape as
    * [[windowedDistinctUsers]]: bounded state per window (k counters),
    * map-side partial merge, watermark-bounded window retention — the
    * "top items per hour over a firehose" query without keeping
    * per-key counts for the whole key space. Candidates are a
    * guaranteed superset of keys with freq > n/(k+1); recount exactly
    * downstream if exact counts are needed (cf.
    * `Sketches.heavyHitters` two-pass batch shape). */
  def windowedHeavyHitters(events: DataFrame, keyCol: String,
      watermark: String = "1 hour", k: Int = 8): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.sketch.Sketches.misraGries(xxhash64(col(keyCol)), k).as("mg"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("bucket"), col("mg.keys").as("candidate_hashes"),
        col("n_events"))

  /** Streaming windowed Count-Min: per event-time window, one d×w
    * counter table answering point-frequency queries for ANY key
    * after the fact — the complement of [[windowedHeavyHitters]]
    * (which only surfaces the top keys). Same mergeable-Aggregator
    * contract: O(d·w) state per window, map-side partial merge,
    * watermark-bounded retention. Probe the emitted table with
    * `Sketches.cmsEstimate` (one-sided: estimate ≥ true count). */
  def windowedCountMin(events: DataFrame, keyCol: String,
      watermark: String = "1 hour", d: Int = 4, w: Int = 1024): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.sketch.Sketches.cms(xxhash64(col(keyCol)), d, w).as("cms"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("bucket"), col("cms.table").as("cms_table"),
        col("n_events"))

  /** Streaming windowed quantiles via the merging t-digest aggregator —
    * the third mergeable sketch in the streaming kit (HLL distinct,
    * Misra-Gries heavy hitters, t-digest quantiles): O(δ) state per
    * window regardless of value cardinality, map-side partial merge,
    * watermark-bounded retention. Emits p50/p95 of the value column
    * (in cents) per event-time hour. */
  def windowedQuantiles(events: DataFrame, watermark: String = "1 hour",
      delta: Int = 200): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.sketch.Sketches.tdigest(
        round(col("value") * 100).cast("bigint"), delta).as("td"))
      .select(col("w.start").as("bucket"),
        graft.sketch.Sketches.tdigestQuantile(col("td"), 0.5).as("p50"),
        graft.sketch.Sketches.tdigestQuantile(col("td"), 0.95).as("p95"))

  /** Fact + ref union row for [[asofEnrichedStream]]; tag 0 = ref,
    * 1 = fact (refs sort first at equal ts — ASOF includes ==). */
  case class AsofTagged(user_id: Long, ts: Timestamp, tag: Int, event_id: Long, value: Double)

  case class AsofOut(event_id: Long, user_id: Long, ts_us: Long,
      ref_event_id: Option[Long], ref_us: Option[Long], ref_value: Option[Double])

  /** Streaming as-of enrichment — the incremental counterpart of batch
    * `TemporalJoins.asofJoin`: every fact is decorated with the LATEST
    * reference row of the same user with refTs <= factTs. The carried
    * reference is one tiny AsofRefState per ACTIVE user (idle-evicted
    * like [[transitionsStream]]), so unlike a stream-stream interval
    * join the reference's validity never expires — exactly the as-of
    * contract (a price quote holds until the next quote) that a
    * time-bounded join cannot express.
    *
    * Each micro-batch sorts its own rows by (ts, tag, event_id) —
    * refs first at equal ts, matching the batch operator's tie-break —
    * and carries across batches via the state store. Matches batch
    * output when cross-batch arrival is in event-time order (the same
    * contract as [[transitionsStream]]); facts preceding any ref pass
    * through null-filled, never dropped. StreamingSpec drives parity
    * against `TemporalJoins.asofJoin` across micro-batches. */
  def asofEnrichedStream(
      facts: Dataset[Event],
      refs: Dataset[Event],
      watermarkDelay: String = "10 minutes",
      idleEvict: String = "1 hour"
  ): Dataset[AsofOut] = {
    import facts.sparkSession.implicits._
    val tagged = facts.map(e => AsofTagged(e.user_id, e.ts, 1, e.event_id, e.value))
      .unionByName(refs.map(e => AsofTagged(e.user_id, e.ts, 0, e.event_id, e.value)))
    tagged
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofRefState, AsofOut](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout
      ) { (userId: Long, rows: Iterator[AsofTagged], state: GroupState[AsofRefState]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val sorted = rows.map(r => (micros(r.ts), r.tag, r.event_id, r.value)).toSeq
            .sortBy(t => (t._1, t._2, t._3))
          val out = Seq.newBuilder[AsofOut]
          var ref = state.getOption
          var lastUs = 0L
          sorted.foreach { case (us, tag, id, value) =>
            lastUs = math.max(lastUs, us)
            if (tag == 0) {
              // later (ts, event_id) wins; equal-ts refs tie-break on id
              // (mirrors the batch window's payload-struct tie-break)
              if (ref.forall(p => p.us < us || (p.us == us && p.eventId <= id))) {
                ref = Some(AsofRefState(us, id, value))
              }
            } else {
              out += AsofOut(id, userId, us, ref.map(_.eventId), ref.map(_.us), ref.map(_.value))
            }
          }
          ref.foreach { p =>
            state.update(p)
            state.setTimeoutTimestamp(math.max(p.us, lastUs) / 1000, idleEvict)
          }
          out.result().iterator
        }
      }
  }

  case class TransitionOut(user_id: Long, from_state: String, to_state: String)

  /** Streaming state-transition mining: the incremental counterpart of
    * batch `Timeseries.transitions`. One tiny LastEventState per user
    * carries the latest (ts, event_id, state) across micro-batches;
    * each batch sorts its own rows by (ts, event_id) and emits a
    * (from → to) pair per consecutive event. Per-user state is evicted
    * by event-time timeout after `idleEvict` beyond the watermark, so
    * state size tracks ACTIVE users, not all users ever seen. Matches
    * batch output when cross-batch arrival is in order (within-batch
    * disorder is sorted out); a transition once emitted is append-only.
    * Feed the counts into a downstream windowed aggregate for the
    * Markov matrix. */
  def transitionsStream(
      events: Dataset[Event],
      watermarkDelay: String = "10 minutes",
      idleEvict: String = "1 hour"
  ): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEventState, TransitionOut](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout
      ) { (userId: Long, rows: Iterator[Event], state: GroupState[LastEventState]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val sorted = rows.map(e => (micros(e.ts), e.event_id, e.event_type)).toSeq
            .sortBy(t => (t._1, t._2))
          val out = Seq.newBuilder[TransitionOut]
          var prev = state.getOption
          sorted.foreach { case (us, id, st) =>
            prev.foreach(p => out += TransitionOut(userId, p.state, st))
            prev = Some(LastEventState(us, id, st))
          }
          prev.foreach { p =>
            state.update(p)
            state.setTimeoutTimestamp(p.us / 1000, idleEvict)
          }
          out.result().iterator
        }
      }
  }

  case class PathOut(user_id: Long, path: Seq[String])

  /** Streaming k-gram path mining — the incremental counterpart of
    * batch `Timeseries.pathKGrams`: per user, a sliding window of the
    * last k−1 event types rides the state; each arriving event closes
    * one length-k path. State is O(k) per ACTIVE user (same idle
    * eviction as [[transitionsStream]]); aggregate the emitted paths
    * downstream for the path counts. */
  def pathsStream(
      events: Dataset[Event],
      k: Int,
      watermarkDelay: String = "10 minutes",
      idleEvict: String = "1 hour"
  ): Dataset[PathOut] = {
    require(k >= 2)
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PathWindowState, PathOut](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout
      ) { (userId: Long, rows: Iterator[Event], state: GroupState[PathWindowState]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val sorted = rows.map(e => (micros(e.ts), e.event_id, e.event_type)).toSeq
            .sortBy(t => (t._1, t._2))
          val out = Seq.newBuilder[PathOut]
          var st = state.getOption.getOrElse(PathWindowState(0L, 0L, Nil))
          sorted.foreach { case (us, id, s) =>
            val window = (st.states :+ s).takeRight(k)
            if (window.length == k) out += PathOut(userId, window)
            st = PathWindowState(us, id, window.takeRight(k - 1))
          }
          if (st.states.nonEmpty) {
            state.update(st)
            state.setTimeoutTimestamp(st.us / 1000, idleEvict)
          }
          out.result().iterator
        }
      }
  }

  /** Gap-based streaming sessionization via flatMapGroupsWithState
    * with EVENT-time timeouts: a session closes when a later event of
    * the same user arrives past the gap, or when the watermark passes
    * session_end + gap (open-session flush). Event-time timeouts only
    * fire on data progress — no idle micro-batch spinning (processing-
    * time timeouts would re-trigger continuously). Mirrors the batch
    * `Relational.sessionize`. */
  def sessionized(
      events: Dataset[Event],
      gapMicros: Long = 30L * 60 * 1000000,
      watermarkDelay: String = "10 minutes"
  ): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout
      ) { (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator(SessionOut(userId, s.startUs, s.endUs, s.n))
        } else {
          val sorted = rows.map(e => micros(e.ts)).toSeq.sorted
          var cur = state.getOption
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { us =>
            cur match {
              case Some(s) if us > s.endUs + gapMicros =>
                // strictly past the gap: close and start a new session
                closed += SessionOut(userId, s.startUs, s.endUs, s.n)
                cur = Some(SessionState(us, us, 1))
              case Some(s) =>
                // within gap — including late-but-within-watermark events
                // earlier than the stored session: extend min/max, never
                // move a boundary backwards-only
                cur = Some(SessionState(math.min(s.startUs, us), math.max(s.endUs, us), s.n + 1))
              case None =>
                cur = Some(SessionState(us, us, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            // flush the open session once the watermark passes end + gap
            state.setTimeoutTimestamp((s.endUs + gapMicros) / 1000)
          }
          closed.result().iterator
        }
      }
  }
}
