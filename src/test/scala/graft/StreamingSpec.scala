package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.CoreOps._
import graft.operators.Relational._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpecBase with org.scalatest.BeforeAndAfterEach {
  import spark.implicits._

  // A failed assertion between start() and q.stop() must not leak a
  // live streaming query: a still-running StreamExecution when the
  // JVM-exit hook stops the shared SparkContext aborts WHATEVER suite
  // is running at that moment with "Job cancelled because SparkContext
  // was shut down" — the round-15 driver-side `sbt test` failure mode.
  // Stopping stragglers after every test keeps one test's failure from
  // cascading into unrelated suites.
  override def afterEach(): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    super.afterEach()
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val sample = Seq(
    Event(1L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0),
    Event(2L, ts("2024-01-01 00:20:00"), 1L, "click", 2.0),
    Event(3L, ts("2024-01-01 01:10:00"), 1L, "view", 3.0),
    Event(4L, ts("2024-01-01 00:30:00"), 2L, "click", 4.0)
  )

  test("windowedCounts matches the batch timeBucketAgg semantics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams
      .windowedCounts(mem.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Append()).start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    // advance the watermark past all windows so append-mode emits them
    mem.addData(Event(99L, ts("2024-01-02 00:00:00"), 9L, "x", 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("wc")
      .select(col("bucket").cast("string"), col("event_type"), col("n"), col("value_cents"))
      .as[(String, String, Long, Long)].collect().toSet
    val batch = sample.toDF()
      .timeBucketAgg(col("ts"), "hour", Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("bigint")).as("value_cents")))
      .select(col("bucket").cast("string"), col("event_type"), col("n"), col("value_cents"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(batch.subsetOf(streamed))
  }

  test("enriched: stream-static broadcast join decorates each micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold")).toDF("user_id", "tier") // user 2 intentionally absent
    val mem = MemoryStream[Event]
    val q = EventStreams.enriched(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enr").outputMode(OutputMode.Append()).start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enr").select("event_id", "tier").as[(Long, Option[String])].collect().toSet
    // unmatched keys pass through null-filled — enrichment never drops facts
    assert(out === Set((1L, Some("gold")), (2L, Some("gold")), (3L, Some("gold")), (4L, None)))
  }

  test("sessionized emits gap-closed sessions and flushes on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionized(mem.toDS())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append()).start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    // push the watermark far past every open session → timeout flush
    mem.addData(Event(99L, ts("2024-01-02 00:00:00"), 9L, "x", 0.0))
    q.processAllAvailable()
    mem.addData(Event(100L, ts("2024-01-03 00:00:00"), 9L, "x", 0.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sess").as[EventStreams.SessionOut].collect()
      .map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events)).toSet
    def us(s: String) = ts(s).getTime * 1000
    // user 1: 00:05+00:20 closed by the 01:10 event; 01:10 flushed by watermark
    assert(out.contains((1L, us("2024-01-01 00:05:00"), us("2024-01-01 00:20:00"), 2L)))
    assert(out.contains((1L, us("2024-01-01 01:10:00"), us("2024-01-01 01:10:00"), 1L)))
    // user 2: single-event session flushed by watermark
    assert(out.contains((2L, us("2024-01-01 00:30:00"), us("2024-01-01 00:30:00"), 1L)))
  }

  test("sessionized absorbs late-but-within-watermark events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionized(mem.toDS()) // gap 30 min, watermark 10 min
      .writeStream.format("memory").queryName("sess_late").outputMode(OutputMode.Append()).start()
    // batch 1: session [00:15, 00:20]; watermark advances to 00:10
    mem.addData(
      Event(1L, ts("2024-01-01 00:15:00"), 1L, "click", 1.0),
      Event(2L, ts("2024-01-01 00:20:00"), 1L, "click", 1.0))
    q.processAllAvailable()
    // batch 2: LATE event at 00:12 (>= watermark, earlier than stored start):
    // must extend the session start backwards, never truncate its end
    mem.addData(Event(3L, ts("2024-01-01 00:12:00"), 1L, "click", 1.0))
    q.processAllAvailable()
    // flush via far-future events (two batches: advance watermark, then fire timeout)
    mem.addData(Event(99L, ts("2024-01-02 00:00:00"), 9L, "x", 0.0))
    q.processAllAvailable()
    mem.addData(Event(100L, ts("2024-01-03 00:00:00"), 9L, "x", 0.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sess_late").as[EventStreams.SessionOut].collect()
      .filter(_.user_id == 1L)
      .map(s => (s.session_start_us, s.session_end_us, s.n_events)).toSet
    def us(s: String) = ts(s).getTime * 1000
    assert(out === Set((us("2024-01-01 00:12:00"), us("2024-01-01 00:20:00"), 3L)))
  }

  test("joinedWithin: stream-stream time-bounded join matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L), // matches purchases at 00:10, 00:50
      (2L, ts("2024-01-01 02:00:00"), 1L), // matches purchase at 02:30
      (3L, ts("2024-01-01 00:00:00"), 2L)  // user 2: no purchase within 1h
    )
    val purchases = Seq(
      (11L, ts("2024-01-01 00:10:00"), 1L),
      (12L, ts("2024-01-01 00:50:00"), 1L),
      (13L, ts("2024-01-01 02:30:00"), 1L),
      (14L, ts("2024-01-01 09:00:00"), 2L)
    )
    val memC = MemoryStream[(Long, Timestamp, Long)]
    val memP = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStreams.joinedWithin(
        memC.toDF().toDF("c_id", "ts", "user_id"),
        memP.toDF().toDF("p_id", "ts", "user_id"),
        "user_id", within = "1 hour")
      .writeStream.format("memory").queryName("ssj").outputMode(OutputMode.Append()).start()
    memC.addData(clicks: _*)
    memP.addData(purchases: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssj").select("c_id", "p_id").as[(Long, Long)].collect().toSet

    val batch = graft.operators.TemporalJoins.rangeJoinBucketed(
        purchases.toDF("p_id", "ts", "user_id").select(col("p_id"), col("user_id"),
          (col("ts").cast("long") * 1000000L).as("p_us")),
        clicks.toDF("c_id", "ts", "user_id").select(col("c_id"), col("user_id"),
          (col("ts").cast("long") * 1000000L).as("c_us")),
        "user_id", col("p_us"), col("c_us"), col("c_us") + 3600000000L, bucketUs = 3600000000L)
      .select("c_id", "p_id").as[(Long, Long)].collect().toSet

    assert(streamed === batch)
    assert(streamed === Set((1L, 11L), (1L, 12L), (2L, 13L)))
  }

  test("asofEnrichedStream matches batch asofJoin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // refs = price quotes; facts = trades decorated with the latest
    // quote at-or-before their timestamp
    val refs1 = Seq(
      Event(101L, ts("2024-01-01 00:00:00"), 1L, "quote", 10.0),
      Event(102L, ts("2024-01-01 00:30:00"), 1L, "quote", 11.0))
    val facts1 = Seq(
      Event(1L, ts("2024-01-01 00:10:00"), 1L, "trade", 0.0),  // -> 101
      Event(2L, ts("2024-01-01 00:30:00"), 1L, "trade", 0.0),  // == ts: ASOF includes -> 102
      Event(3L, ts("2024-01-01 00:05:00"), 2L, "trade", 0.0))  // user 2: no quote -> nulls
    // second micro-batch, later event time: fact must carry the quote
    // STORED FROM BATCH 1 (the cross-batch as-of carry), then a new
    // quote takes over
    val refs2 = Seq(Event(103L, ts("2024-01-01 02:00:00"), 1L, "quote", 12.0))
    val facts2 = Seq(
      Event(4L, ts("2024-01-01 01:00:00"), 1L, "trade", 0.0),  // -> 102 (carried state)
      Event(5L, ts("2024-01-01 02:10:00"), 1L, "trade", 0.0))  // -> 103

    // ONE MemoryStream feeds both sides (split on event_type): each
    // addData is a single atomic offset, so refs and facts of a stage
    // always land in the same micro-batch — two independent streams
    // raced the trigger (a batch could fire between the two addData
    // calls, processing facts before their refs) and flaked
    val mem = MemoryStream[Event]
    val src = mem.toDS()
    val q = EventStreams.asofEnrichedStream(
        src.filter(_.event_type == "trade"), src.filter(_.event_type == "quote"))
      .writeStream.format("memory").queryName("asof").outputMode(OutputMode.Append()).start()
    mem.addData(facts1 ++ refs1: _*)
    q.processAllAvailable()
    mem.addData(facts2 ++ refs2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asof")
      .select("event_id", "ref_event_id", "ref_value")
      .as[(Long, Option[Long], Option[Double])].collect().toSet

    val factsDf = (facts1 ++ facts2).toDF().select(col("event_id"), col("user_id"),
      (col("ts").cast("long") * 1000000L).as("ts_us"))
    val refsDf = (refs1 ++ refs2).toDF().select(col("user_id"),
      (col("ts").cast("long") * 1000000L).as("ref_us_src"),
      col("event_id").as("ref_event_id"), col("value").as("ref_value"))
    val batch = graft.operators.TemporalJoins.asofJoin(
        factsDf, refsDf, "user_id", col("ts_us"), col("ref_us_src"),
        Seq("ref_event_id", "ref_value"))
      .select("event_id", "ref_event_id", "ref_value")
      .as[(Long, Option[Long], Option[Double])].collect().toSet

    assert(streamed === batch)
    assert(streamed === Set(
      (1L, Some(101L), Some(10.0)), (2L, Some(102L), Some(11.0)),
      (3L, None, None), (4L, Some(102L), Some(11.0)), (5L, Some(103L), Some(12.0))))
  }

  test("novelDocsStream screens micro-batches against the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the mat"
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("novel_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val novel = graft.dedup.Dedup.minhashNovel(corpus, batch, col("text"), col("doc_id"))
      got.synchronized { got ++= novel.select("doc_id").as[Long].collect() }
    }
    // batch 1: one exact dup of the corpus + one novel doc
    mem.addData((10L, base), (11L, "completely unrelated content about catalyst plans and shuffles"))
    q.processAllAvailable()
    // batch 2: near-dup (one token changed) + another novel doc
    mem.addData((12L, base.replace("mat", "rug")),
      (13L, "zebra quartz violin xylophone jackdaw plume nimbus"))
    q.processAllAvailable()
    q.stop()
    assert(got.toSet === Set(11L, 13L)) // dups screened out in BOTH micro-batches
    // parity: per-batch results equal the batch operator applied to each drop
    val b1 = graft.dedup.Dedup.minhashNovel(corpus,
      Seq((10L, base), (11L, "completely unrelated content about catalyst plans and shuffles"))
        .toDF("doc_id", "text"), col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(b1 === Set(11L))
  }

  test("ruleScreenedStream emits heuristic verdicts per micro-batch, bit-equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    val good = ("The quick brown fox jumps over the lazy dog near the river bank today. " * 3).trim
    val repetitious = "spam spam spam spam spam spam spam spam spam spam"
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Int)]
    val ckpt = java.nio.file.Files.createTempDirectory("rules_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val v = graft.quality.HeuristicRules.ruleVerdicts(
        batch, col("text"), col("doc_id"), minWords = 5, maxWords = 500)
      got.synchronized {
        got ++= v.select("doc_id", "pass_gopher", "pass_c4", "pass_repetition")
          .as[(Long, Int, Int, Int)].collect()
      }
    }
    mem.addData((1L, good), (2L, repetitious))
    q.processAllAvailable()
    mem.addData((3L, good + " And a second batch arrives later."))
    q.processAllAvailable()
    q.stop()
    // parity: identical to the batch operator over the union of drops
    val batch = graft.quality.HeuristicRules.ruleVerdicts(
        Seq((1L, good), (2L, repetitious), (3L, good + " And a second batch arrives later."))
          .toDF("doc_id", "text"),
        col("text"), col("doc_id"), minWords = 5, maxWords = 500)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got.toSet === batch)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(2L)._4 === 0, "repetitious doc must fail the repetition battery")
    assert(byId(1L)._2 === 1, "clean doc passes gopher")
  }

  test("phraseFlaggedStream finds static phrases per micro-batch, bit-equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    val phrases = Seq("quick brown", "lazy dog").toDF("phrase")
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("phrase_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val hits = graft.text.Search.phraseOccurrences(
        batch, col("text"), col("doc_id"), phrases, col("phrase"), col("phrase"))
      got.synchronized {
        got ++= hits.select("phrase", "doc_id", "n_occurrences")
          .as[(String, Long, Long)].collect()
      }
    }
    mem.addData((1L, "the quick brown fox and the quick brown hare"),
      (2L, "nothing matching here"))
    q.processAllAvailable()
    mem.addData((3L, "a lazy dog sleeps"))
    q.processAllAvailable()
    q.stop()
    assert(got.toSet === Set(("quick brown", 1L, 2L), ("lazy dog", 3L, 1L)))
    // parity with the batch operator over the union of the drops
    val batch = graft.text.Search.phraseOccurrences(
        Seq((1L, "the quick brown fox and the quick brown hare"),
          (2L, "nothing matching here"), (3L, "a lazy dog sleeps")).toDF("doc_id", "text"),
        col("text"), col("doc_id"), phrases, col("phrase"), col("phrase"))
      .as[(String, Long, Long)].collect().toSet
    assert(got.toSet === batch)
  }

  test("kmvOverlapStream reports per-trigger overlap vs the static register, bit-equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sketch.KmvLedger
    val hist = spark.range(0, 40).select(concat(lit("doc"), col("id")) as "text")
    val merged = KmvLedger.merged(KmvLedger.dropSummary(hist, "h", col("text"), 256))
    val mem = MemoryStream[String]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("kmv_stream_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("text"), ckpt) { (batch, _) =>
      val rep = KmvLedger.overlapVsHistory(batch, col("text"), merged)
      got.synchronized {
        got ++= rep.select("common", "jacc_pm", "est_history")
          .as[(Long, Long, Long)].collect()
      }
    }
    mem.addData((30 until 60).map(i => s"doc$i"): _*) // 10 of 30 seen
    q.processAllAvailable()
    mem.addData("fresh1", "fresh2") // nothing seen
    q.processAllAvailable()
    q.stop()
    assert(got.toList === List((10L, 166L, 40L), (0L, 0L, 40L)))
    // parity with the batch operator on the first trigger's rows
    val batch = KmvLedger.overlapVsHistory(
        (30 until 60).map(i => s"doc$i").toDF("text"), col("text"), merged)
      .select("common", "jacc_pm", "est_history").as[(Long, Long, Long)].head()
    assert(got.head === batch)
  }

  test("driftMonitorStream reports per-trigger bucket drift vs the static profile") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TableDiff
    // reference: 75% bucket 0, 25% bucket 1
    val ref = (Seq.fill(6)(0L) ++ Seq.fill(2)(1L)).toDF("b")
    val profile = ref.groupBy(col("b").as("bucket")).agg(count(lit(1)).as("n_ref"))
    val mem = MemoryStream[Long]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("drift_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("b"), ckpt) { (batch, _) =>
      val rep = TableDiff.driftAgainstProfile(profile, batch, batch("b"))
      got.synchronized {
        got ++= rep.select("bucket", "n_new", "share_new_pm", "drift")
          .as[(Long, Long, Long, Long)].collect()
      }
    }
    mem.addData(0L, 0L, 1L, 1L) // 50/50 — bucket 1 over-represented
    q.processAllAvailable()
    q.stop()
    assert(got.sortBy(_._1).toList === List((0L, 2L, 500L, -8L), (1L, 2L, 500L, 8L)))
    // parity with the batch operator on the same rows
    val batch = TableDiff.distributionDrift(ref, Seq(0L, 0L, 1L, 1L).toDF("b"),
        col("b"), col("b"))
      .select("bucket", "n_new", "share_new_pm", "drift")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got.sortBy(_._1).toList === batch)
  }

  test("lmScoredStream scores micro-batches against the static reference LM") {
    implicit val sqlCtx = spark.sqlContext
    // reference corpus: "alpha"/"beta" common, everything else unseen
    val corpus = Seq((1L, "alpha beta alpha"), (2L, "alpha beta beta alpha")).toDF("doc_id", "text")
    val refFreq = graft.text.TextAnalysis.tokenFrequencies(corpus, col("text"))
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("lm_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val scored = EventStreams.withScores(batch, "doc_id", graft.text.TextAnalysis
        .lmScoreAgainst(batch, col("text"), col("doc_id"), refFreq, rareMax = 1L), "doc_id")
      got.synchronized {
        got ++= scored.select(col("doc_id"), col("n_tokens"), col("n_rare"), col("mean_freq"))
          .as[(Long, Long, Long, Double)].collect()
      }
    }
    mem.addData((10L, "alpha beta"), (11L, "gamma gamma"))
    q.processAllAvailable()
    mem.addData((12L, "alpha unknown"))
    q.processAllAvailable()
    q.stop()
    val byId = got.map(r => r._1 -> r).toMap
    // alpha cnt=4, beta cnt=3 in the reference
    assert(byId(10L) === ((10L, 2L, 0L, 3.5)))
    // unseen tokens: frequency 0 → maximally rare
    assert(byId(11L) === ((11L, 2L, 2L, 0.0)))
    assert(byId(12L) === ((12L, 2L, 1L, 2.0)))
    // parity with the batch scorer over the union of drops
    val allDocs = Seq((10L, "alpha beta"), (11L, "gamma gamma"), (12L, "alpha unknown"))
      .toDF("doc_id", "text")
    val batch = graft.text.TextAnalysis.lmScoreAgainst(
        allDocs, col("text"), col("doc_id"), refFreq, rareMax = 1L)
      .select(col("doc_id"), col("n_tokens"), col("n_rare"), col("mean_freq"))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(byId === batch)
  }

  test("bigramScoredStream scores micro-batches against the static reference bigram LM") {
    implicit val sqlCtx = spark.sqlContext
    // reference order: "alpha beta" (cnt 3), "beta alpha" (2), "beta beta" (1)
    val corpus = Seq((1L, "alpha beta alpha beta"), (2L, "alpha beta beta alpha")).toDF("doc_id", "text")
    val refFreq = graft.text.TextAnalysis.bigramFrequencies(corpus, col("text"))
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("bg_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val scored = EventStreams.withScores(batch, "doc_id", graft.text.TextAnalysis
        .bigramLmScoreAgainst(batch, col("text"), col("doc_id"), refFreq, rareMax = 1L), "doc_id")
      got.synchronized {
        got ++= scored.select(col("doc_id"), col("n_bigrams"), col("n_rare"), col("mean_freq"))
          .as[(Long, Long, Long, Double)].collect()
      }
    }
    // batch 1: in-order doc + reversed-order doc (same unigrams!)
    mem.addData((10L, "alpha beta alpha"), (11L, "beta alpha beta"))
    q.processAllAvailable()
    // batch 2: one-token doc (no bigram evidence) + unseen pairs
    mem.addData((12L, "alpha"), (13L, "gamma delta"))
    q.processAllAvailable()
    q.stop()
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(10L) === ((10L, 2L, 0L, 2.5))) // "alpha beta"=3, "beta alpha"=2
    assert(byId(11L) === ((11L, 2L, 0L, 2.5))) // same pairs, reversed doc
    assert(!byId.contains(12L))                // <2 tokens: absent
    assert(byId(13L) === ((13L, 1L, 1L, 0.0))) // unseen bigram: maximally rare
    // parity with the batch scorer over the union of drops
    val allDocs = Seq((10L, "alpha beta alpha"), (11L, "beta alpha beta"),
      (12L, "alpha"), (13L, "gamma delta")).toDF("doc_id", "text")
    val batch = graft.text.TextAnalysis.bigramLmScoreAgainst(
        allDocs, col("text"), col("doc_id"), refFreq, rareMax = 1L)
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"), col("mean_freq"))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(byId === batch)
  }

  test("classifiedStream labels micro-batches against static centroids, bit-equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.Similarity
    // trained model: two separable label clusters (x-axis 1, y-axis 2)
    val train = Seq(
      (1L, 1, Array(1.0f, 0.02f, 0.0f)), (2L, 1, Array(0.97f, 0.05f, 0.0f)),
      (3L, 2, Array(0.03f, 1.0f, 0.0f)), (4L, 2, Array(0.0f, 0.96f, 0.04f))
    ).toDF("vec_id", "label", "embedding")
    val centroids = Similarity.labelCentroids(
      Similarity.prepareQuantized(train, col("embedding"), col("vec_id"), col("label")))
    val mem = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val stream = Similarity.prepareQuantized(
      mem.toDF().toDF("vec_id", "embedding"), col("embedding"), col("vec_id"))
    val q = EventStreams.eachBatch(stream, ckpt) { (batch, _) =>
      val scored = EventStreams.withScores(
        batch, "vec_id", Similarity.classifyAgainst(batch, centroids), "vec_id")
      got.synchronized {
        got ++= scored.select(col("vec_id"), col("pred_label"), col("best_cos"))
          .as[(Long, Int, Double)].collect()
      }
    }
    mem.addData((10L, Array(0.99f, 0.01f, 0.0f)), (11L, Array(0.05f, 0.9f, 0.0f)))
    q.processAllAvailable()
    mem.addData((12L, Array(0.8f, 0.3f, 0.0f)))
    q.processAllAvailable()
    q.stop()
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(10L)._2 === 1 && byId(11L)._2 === 2 && byId(12L)._2 === 1)
    // bit-exact parity with the batch inference scorer
    val allVecs = Seq(
      (10L, Array(0.99f, 0.01f, 0.0f)), (11L, Array(0.05f, 0.9f, 0.0f)),
      (12L, Array(0.8f, 0.3f, 0.0f))).toDF("vec_id", "embedding")
    val batch = Similarity.classifyAgainst(
        Similarity.prepareQuantized(allVecs, col("embedding"), col("vec_id")), centroids)
      .select(col("vec_id"), col("pred_label"), col("best_cos"))
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(byId === batch)
  }

  test("nbScoredStream labels micro-batches against a static trained NB model, bit-equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.quality.NaiveBayes
    val train = Seq(
      (1L, "apple banana apple cherry", "fruit"),
      (2L, "banana cherry banana apple", "fruit"),
      (3L, "bolt nut washer bolt", "hardware"),
      (4L, "nut washer nut bolt", "hardware")).toDF("doc_id", "text", "label")
    val model = NaiveBayes.model(train, col("text"), col("doc_id"), col("label"))
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("nb_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val scored = EventStreams.withScores(batch, "doc_id",
        NaiveBayes.scoreAgainst(batch, col("text"), col("doc_id"), model), "doc_id")
      got.synchronized {
        got ++= scored.select(col("doc_id"), col("pred_label"), col("score"))
          .as[(Long, String, Long)].collect()
      }
    }
    mem.addData((10L, "apple cherry banana"), (11L, "washer bolt nut"))
    q.processAllAvailable()
    mem.addData((12L, "banana banana apple apple"))
    q.processAllAvailable()
    q.stop()
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(10L)._2 === "fruit" && byId(11L)._2 === "hardware"
      && byId(12L)._2 === "fruit")
    // bit-exact parity with the batch inference scorer
    val allDocs = Seq((10L, "apple cherry banana"), (11L, "washer bolt nut"),
      (12L, "banana banana apple apple")).toDF("doc_id", "text")
    val batch = NaiveBayes.scoreAgainst(allDocs, col("text"), col("doc_id"), model)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(byId === batch)
  }

  test("dsirScoredStream weighs micro-batches against a static ratio grid, bit-equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.quality.Dsir
    val target = Seq((1L, "alpha beta gamma alpha")).toDF("doc_id", "text")
    val raw = Seq((2L, "alpha beta delta"), (3L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val ratios = Dsir.logRatios(target, col("text"), col("doc_id"),
      raw, col("text"), col("doc_id"), buckets = 64)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("dsir_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val w = EventStreams.withScores(batch, "doc_id",
        Dsir.importanceWeights(batch, col("text"), col("doc_id"), ratios, 64), "doc_id")
      got.synchronized { got ++= w.select(col("doc_id"), col("iw")).as[(Long, Long)].collect() }
    }
    mem.addData((10L, "alpha beta gamma"), (11L, "epsilon zeta qqq"))
    q.processAllAvailable()
    mem.addData((12L, "gamma alpha beta alpha"))
    q.processAllAvailable()
    q.stop()
    val byId = got.toMap
    assert(byId(10L) > byId(11L), "on-domain batch doc must outweigh off-domain")
    val allDocs = Seq((10L, "alpha beta gamma"), (11L, "epsilon zeta qqq"),
      (12L, "gamma alpha beta alpha")).toDF("doc_id", "text")
    val batch = Dsir.importanceWeights(allDocs, col("text"), col("doc_id"), ratios, 64)
      .as[(Long, Long)].collect().toMap
    assert(byId === batch)
  }

  test("bloomScreenedStream flags micro-batches against the static merged register") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sketch.BloomLedger
    val history = Seq((1L, "seen one"), (2L, "seen two")).toDF("doc_id", "text")
    // NOTE the key expression must match on the build and screen
    // sides — the register stores xxhash64(key) bits
    val merged = BloomLedger.merged(
      BloomLedger.dropSummary(history, "h", col("text"), numBits = 1 << 12))
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val ckpt = java.nio.file.Files.createTempDirectory("bloom_ckpt").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val s = BloomLedger.screen(batch, col("text"), merged)
      got.synchronized {
        got ++= s.select(col("doc_id"), col("might_seen")).as[(Long, Boolean)].collect()
      }
    }
    mem.addData((10L, "seen one"), (11L, "never seen before at all"))
    q.processAllAvailable()
    q.stop()
    val byId = got.toMap
    assert(byId(10L) === true, "historical text must flag (no false negatives)")
    assert(byId(11L) === false, "a fresh text must pass the 4k-bit register")
  }

  test("windowedSourceTokens + temperaturePerWindow equals batch temperature weights per window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, String)]
    val stream = EventStreams.windowedSourceTokens(
      mem.toDF().toDF("ts", "source", "text"),
      graft.text.TextAnalysis.tokenCount(col("text")),
      watermark = "10 minutes", win = "1 hour")
    val q = stream.writeStream.format("memory").queryName("srctok")
      .outputMode(OutputMode.Append()).start()
    // window 1 (00:00): src A 5 tokens, src B 1 token
    mem.addData(
      (ts("2024-01-01 00:10:00"), "A", "a b c"),
      (ts("2024-01-01 00:20:00"), "A", "d e"),
      (ts("2024-01-01 00:30:00"), "B", "z"))
    q.processAllAvailable()
    // window 2 (01:00) + late watermark push to close window 1
    mem.addData((ts("2024-01-01 01:30:00"), "A", "p q"), (ts("2024-01-01 01:35:00"), "B", "r s"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 03:00:00"), "A", "flush"))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("srctok")
    val w1 = EventStreams.temperaturePerWindow(closed)
      .filter(col("bucket") === ts("2024-01-01 00:00:00"))
      .select(col("source"), col("n_tokens"), col("share"), col("weight"), col("boost"))
    // exact parity with the batch operator on window 1's slice
    val batchW1 = graft.text.TextPrep.temperatureWeights(
      Seq(("A", 3L), ("A", 2L), ("B", 1L)).toDF("source", "tok"), col("source"), col("tok"))
    assert(w1.orderBy("source").collect().toSeq === batchW1.orderBy("source").collect().toSeq)
    // window 2 closed too: equal 2-token sources → equal weights
    val w2 = EventStreams.temperaturePerWindow(closed)
      .filter(col("bucket") === ts("2024-01-01 01:00:00"))
      .select(col("source"), col("boost")).as[(String, Double)].collect().toMap
    assert(w2.keySet === Set("A", "B") && w2("A") === w2("B"))
  }

  test("windowedArmCounts + srmPerWindow equals the batch SRM audit per closed window") {
    implicit val sqlCtx = spark.sqlContext
    import graft.quality.Validate
    val mem = MemoryStream[(Timestamp, String)]
    val expected = Seq(("a", 2L), ("b", 1L), ("c", 1L))
    val stream = EventStreams.windowedArmCounts(
      mem.toDF().toDF("ts", "arm"), "arm", watermark = "10 minutes", win = "1 hour")
    val q = stream.writeStream.format("memory").queryName("armcounts")
      .outputMode(OutputMode.Append()).start()
    // window 1: healthy 2:1:1; window 2: arm c VANISHED, rogue "x"
    mem.addData(
      (ts("2024-01-01 00:05:00"), "a"), (ts("2024-01-01 00:10:00"), "a"),
      (ts("2024-01-01 00:20:00"), "b"), (ts("2024-01-01 00:30:00"), "c"))
    q.processAllAvailable()
    mem.addData(
      (ts("2024-01-01 01:05:00"), "a"), (ts("2024-01-01 01:10:00"), "b"),
      (ts("2024-01-01 01:20:00"), "x"))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 03:00:00"), "a")) // watermark flush
    q.processAllAvailable()
    q.stop()
    val report = EventStreams.srmPerWindow(spark.table("armcounts"), expected)
    def batch(rows: Seq[String]) = Validate
      .srmAudit(rows.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "arm"),
        col("arm"), expected)
      .orderBy("arm").collect().toSeq
    val w1 = report.filter(col("bucket") === ts("2024-01-01 00:00:00"))
      .drop("bucket").orderBy("arm").collect().toSeq
    assert(w1 === batch(Seq("a", "a", "b", "c")))
    val w2 = report.filter(col("bucket") === ts("2024-01-01 01:00:00"))
      .drop("bucket").orderBy("arm").collect().toSeq
    assert(w2 === batch(Seq("a", "b", "x")))
    // the vanished arm and the rogue arm both surface in window 2
    val w2map = w2.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(w2map("c") === ((0L, 1L)) && w2map("x") === ((1L, 0L)))
  }

  test("windowedDigitCounts + benfordPerWindow equals the batch Benford audit per window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val stream = EventStreams.windowedDigitCounts(
      mem.toDF().toDF("ts", "v"), col("v"), watermark = "10 minutes", win = "1 hour")
    val q = stream.writeStream.format("memory").queryName("digits")
      .outputMode(OutputMode.Append()).start()
    // window 1: digits 1,1,2,9 (plus excluded 0 and negative);
    // window 2: 10^k boundary values
    mem.addData(
      (ts("2024-01-01 00:05:00"), 100L), (ts("2024-01-01 00:10:00"), 19L),
      (ts("2024-01-01 00:20:00"), 2L), (ts("2024-01-01 00:30:00"), 900L),
      (ts("2024-01-01 00:40:00"), 0L), (ts("2024-01-01 00:50:00"), -5L))
    q.processAllAvailable()
    mem.addData(
      (ts("2024-01-01 01:05:00"), 999999999999L),
      (ts("2024-01-01 01:10:00"), 1000000000000L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 03:00:00"), 1L)) // watermark flush
    q.processAllAvailable()
    q.stop()
    val report = EventStreams.benfordPerWindow(spark.table("digits"))
    def batch(vs: Seq[Long]) = graft.quality.Validate
      .benfordAudit(vs.toDF("v"), col("v")).orderBy("digit").collect().toSeq
    val w1 = report.filter(col("bucket") === ts("2024-01-01 00:00:00"))
      .drop("bucket").orderBy("digit").collect().toSeq
    assert(w1 === batch(Seq(100L, 19L, 2L, 900L, 0L, -5L)))
    val w2 = report.filter(col("bucket") === ts("2024-01-01 01:00:00"))
      .drop("bucket").orderBy("digit").collect().toSeq
    assert(w2 === batch(Seq(999999999999L, 1000000000000L)))
  }

  test("deduped drops repeated keys within the watermark across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.deduped(mem.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    mem.addData(
      Event(1L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0),
      Event(1L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0), // same-batch dup
      Event(2L, ts("2024-01-01 00:06:00"), 1L, "view", 2.0))
    q.processAllAvailable()
    // replayed event_id=1 in a later micro-batch, still within watermark
    mem.addData(Event(1L, ts("2024-01-01 00:07:00"), 1L, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup").select("event_id").as[Long].collect().toSeq.sorted
    assert(ids === Seq(1L, 2L)) // each key exactly once
  }

  test("windowedDistinctUsers: HLL sketch inside a streaming aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedDistinctUsers(mem.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("wdu").outputMode(OutputMode.Append()).start()
    // 3 distinct users clicking within one hour window (small range →
    // HLL linear counting → exact)
    mem.addData((1 to 6).map(i => Event(i.toLong, ts("2024-01-01 00:10:00"), (i % 3).toLong, "click", 1.0)): _*)
    q.processAllAvailable()
    mem.addData(Event(99L, ts("2024-01-02 00:00:00"), 9L, "x", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wdu")
      .filter(col("event_type") === "click")
      .select("approx_users").as[Long].collect().toSeq
    assert(out === Seq(3L))
  }

  test("windowedKeySkew: AMS F2 registers inside a streaming aggregate, bit-equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedKeySkew(mem.toDF(), "user_id", watermark = "0 seconds")
      .writeStream.format("memory").queryName("wks").outputMode(OutputMode.Append()).start()
    // a hot key (user 7) owning most of the window, split across TWO
    // micro-batches so the register merge path runs
    val rows = (1 to 20).map(i => Event(i.toLong, ts("2024-01-01 00:10:00"),
      if (i <= 15) 7L else i.toLong, "click", 1.0))
    mem.addData(rows.take(9): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(9): _*)
    q.processAllAvailable()
    mem.addData(Event(99L, ts("2024-01-02 00:00:00"), 9L, "x", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wks").filter(col("event_type") === "click")
      .select("n", "f2_est").as[(Long, Long)].collect().toSeq
    // batch replay of the same window's rows through the batch sketch
    val batch = graft.sketch.Sketches.amsF2(
      rows.toDF().withColumn("g", lit("click")), col("g"), col("user_id"))
      .select("n", "f2_est").as[(Long, Long)].collect().toSeq
    assert(got === batch)
    assert(got.head._1 === 20L)
    // the hot key should push the estimate well above the n of a
    // uniform window (true F2 = 15² + 5 = 230)
    assert(got.head._2 > 100L, got.toString)
  }

  test("windowedQuantiles: t-digest inside a streaming aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedQuantiles(mem.toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("wq").outputMode(OutputMode.Append()).start()
    // values 1..100 dollars in one window, split across two micro-batches
    mem.addData((1 to 50).map(i => Event(i.toLong, ts("2024-01-01 00:10:00"), 1L, "x", i.toDouble)): _*)
    q.processAllAvailable()
    mem.addData((51 to 100).map(i => Event(i.toLong, ts("2024-01-01 00:20:00"), 1L, "x", i.toDouble)): _*)
    q.processAllAvailable()
    mem.addData(Event(999L, ts("2024-01-02 00:00:00"), 9L, "x", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val (p50, p95) = spark.table("wq").filter(col("bucket") === ts("2024-01-01 00:00:00"))
      .select("p50", "p95").as[(Double, Double)].head()
    assert(math.abs(p50 - 5050.0) < 300.0, s"p50=$p50")  // ~50.5 dollars in cents
    assert(math.abs(p95 - 9500.0) < 300.0, s"p95=$p95")
  }

  test("pathsStream matches batch pathKGrams across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.pathsStream(mem.toDS(), k = 3, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("paths").outputMode(OutputMode.Append()).start()
    mem.addData(
      Event(1L, ts("2024-01-01 00:01:00"), 1L, "a", 0.0),
      Event(2L, ts("2024-01-01 00:02:00"), 1L, "b", 0.0))
    q.processAllAvailable()
    // batch 2: carried window [a, b] closes paths abc then bca
    mem.addData(
      Event(3L, ts("2024-01-01 00:03:00"), 1L, "c", 0.0),
      Event(4L, ts("2024-01-01 00:04:00"), 1L, "a", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("paths")
      .selectExpr("user_id", "path[0] AS s1", "path[1] AS s2", "path[2] AS s3")
      .as[(Long, String, String, String)].collect().toSet
    import graft.operators.Timeseries._
    val batch = Seq((1L, 60L, 1L, "a"), (1L, 120L, 2L, "b"), (1L, 180L, 3L, "c"), (1L, 240L, 4L, "a"))
      .toDF("user_id", "us", "event_id", "event_type")
      .pathKGrams(col("user_id"), Seq(col("us"), col("event_id")), col("event_type"), k = 3)
      .filter(col("n") > 0)
      .select(lit(1L), col("s1"), col("s2"), col("s3"))
      .as[(Long, String, String, String)].collect().toSet
    assert(got === batch)
  }

  test("transitionsStream matches batch transitions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.transitionsStream(mem.toDS(), watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("trans").outputMode(OutputMode.Append()).start()
    // user 1: a→b within batch 1; batch 2 continues from carried state b→a
    mem.addData(
      Event(1L, ts("2024-01-01 00:01:00"), 1L, "a", 0.0),
      Event(2L, ts("2024-01-01 00:02:00"), 1L, "b", 0.0),
      Event(3L, ts("2024-01-01 00:01:30"), 2L, "x", 0.0))
    q.processAllAvailable()
    mem.addData(
      Event(4L, ts("2024-01-01 00:03:00"), 1L, "a", 0.0),
      Event(5L, ts("2024-01-01 00:04:00"), 2L, "y", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trans")
      .groupBy("from_state", "to_state").count()
      .as[(String, String, Long)].collect().toSet
    // batch oracle over the same 5 events
    import graft.operators.Timeseries._
    val batch = Seq(
      (1L, 60L, 1L, "a"), (1L, 120L, 2L, "b"), (2L, 90L, 3L, "x"),
      (1L, 180L, 4L, "a"), (2L, 240L, 5L, "y")
    ).toDF("user_id", "us", "event_id", "event_type")
      .transitions(col("user_id"), Seq(col("us"), col("event_id")), col("event_type"))
      .as[(String, String, Long)].collect().toSet
    assert(got === batch)
  }

  test("windowedHeavyHitters: Misra-Gries candidates inside a streaming aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedHeavyHitters(mem.toDF(), "event_type", watermark = "0 seconds", k = 4)
      .writeStream.format("memory").queryName("whh").outputMode(OutputMode.Append()).start()
    // "click" dominates (6 of 9 events) across two micro-batches
    mem.addData((1 to 5).map(i => Event(i.toLong, ts("2024-01-01 00:10:00"), 1L, "click", 1.0)): _*)
    q.processAllAvailable()
    mem.addData(
      Event(6L, ts("2024-01-01 00:20:00"), 2L, "click", 1.0),
      Event(7L, ts("2024-01-01 00:21:00"), 2L, "view", 1.0),
      Event(8L, ts("2024-01-01 00:22:00"), 3L, "scroll", 1.0),
      Event(9L, ts("2024-01-01 00:23:00"), 3L, "view", 1.0))
    q.processAllAvailable()
    mem.addData(Event(99L, ts("2024-01-02 00:00:00"), 9L, "x", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val row = spark.table("whh").filter(col("n_events") === 9L)
      .select("candidate_hashes").as[Seq[Long]].head()
    val clickHash = spark.range(1).select(xxhash64(lit("click"))).as[Long].head()
    assert(row.contains(clickHash)) // MG guarantee: freq > n/(k+1) survives
    assert(row.length <= 4)
  }

  test("windowedCountMin: point-frequency estimates inside a streaming aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.windowedCountMin(mem.toDF(), "event_type", watermark = "0 seconds",
        d = 4, w = 1024)
      .writeStream.format("memory").queryName("wcms").outputMode(OutputMode.Append()).start()
    // 6 clicks + 2 views + 1 scroll inside one hour window, split
    // across micro-batches so the sketch merges partials and batches
    mem.addData((1 to 5).map(i => Event(i.toLong, ts("2024-01-01 00:10:00"), 1L, "click", 1.0)): _*)
    q.processAllAvailable()
    mem.addData(
      Event(6L, ts("2024-01-01 00:20:00"), 2L, "click", 1.0),
      Event(7L, ts("2024-01-01 00:21:00"), 2L, "view", 1.0),
      Event(8L, ts("2024-01-01 00:22:00"), 3L, "scroll", 1.0),
      Event(9L, ts("2024-01-01 00:23:00"), 3L, "view", 1.0))
    q.processAllAvailable()
    mem.addData(Event(99L, ts("2024-01-02 00:00:00"), 9L, "x", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val tbl = spark.table("wcms").filter(col("n_events") === 9L)
    // probe the emitted sketch for each key: 9 events → noise ≤ 2·9/1024 < 1,
    // so the one-sided estimates are exact here
    val probes = Seq("click" -> 6L, "view" -> 2L, "scroll" -> 1L)
    for ((key, exact) <- probes) {
      val est = tbl.select(graft.sketch.Sketches.cmsEstimate(
        col("cms_table"), xxhash64(lit(key)), 4, 1024)).as[Long].head()
      assert(est === exact, s"$key: est $est vs exact $exact")
    }
  }

  test("upsertToParquet rewrites only touched partitions per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val mem = MemoryStream[Event]
    val agg = mem.toDF()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("bigint")).as("cents"))
    val q = EventStreams.upsertToParquet(agg, s"$root/t", s"$root/ckpt", "event_type")
    mem.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      Event(2L, ts("2024-01-01 00:01:00"), 1L, "view", 2.0))
    q.processAllAvailable()
    // batch 2 touches only "click": its partition is re-written with the
    // updated aggregate; "view" keeps its old rows
    mem.addData(Event(3L, ts("2024-01-01 00:02:00"), 2L, "click", 5.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$root/t")
      .select("event_type", "n", "cents").as[(String, Long, Long)].collect().toSet
    assert(out === Set(("click", 2L, 600L), ("view", 1L, 200L)))
  }

  test("incrementalBatch processes only new files across runs (exactly-once)") {
    val root = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    def addFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      new java.io.File(in).mkdirs()
      val content = rows.map { case (id, v) => s"""{"id":$id,"v":$v}""" }.mkString("\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(in, name), content)
    }
    val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("v2", col("v") * 2)

    addFile("a.json", Seq((1L, 10L), (2L, 20L)))
    EventStreams.incrementalBatch(spark, in, "id long, v long", transform, out, ckpt)
    assert(spark.read.parquet(out).count() === 2L)

    addFile("b.json", Seq((3L, 30L)))
    EventStreams.incrementalBatch(spark, in, "id long, v long", transform, out, ckpt)
    val all = spark.read.parquet(out).select("id", "v2").as[(Long, Long)].collect().toSet
    // a.json was NOT reprocessed: 3 rows total, transformed once each
    assert(all === Set((1L, 20L), (2L, 40L), (3L, 60L)))
  }

  test("incrementalBatch: crash mid-run, restart resumes exactly-once") {
    // The fault-tolerance claim behind incrementalBatch: a run that
    // DIES between micro-batches (not a graceful stop) loses nothing
    // and duplicates nothing on restart. Committed batches live in the
    // sink's _spark_metadata commit log — batch readers see only
    // committed files, never a failed batch's orphan output — and the
    // restart resumes from the checkpointed file-log offset.
    val root = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val marker = s"$root/recovered"
    new java.io.File(in).mkdirs()
    def addFile(name: String, rows: Seq[(Long, Long)], mtime: Long): Unit = {
      val content = rows.map { case (id, v) => s"""{"id":$id,"v":$v}""" }.mkString("\n")
      val p = java.nio.file.Paths.get(in, name)
      java.nio.file.Files.writeString(p, content)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // distinct mtimes pin the file-source batch order: with
    // maxFilesPerTrigger=1 the run commits [a], [b], then dies in [c]
    val t0 = 1700000000000L
    addFile("a.json", Seq((1L, 10L), (2L, 20L)), t0)
    addFile("b.json", Seq((3L, 30L)), t0 + 60000)
    addFile("c.json", Seq((4L, 40L)), t0 + 120000)
    addFile("d.json", Seq((5L, 50L)), t0 + 180000)

    // executor-side poison: id=4 throws until the marker file exists —
    // a deterministic stand-in for a mid-run process kill
    val poisoned = udf { (id: Long, v: Long) =>
      if (id == 4L && !new java.io.File(marker).exists()) sys.error("injected crash")
      v * 2
    }
    val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("v2", poisoned(col("id"), col("v")))

    // the poison usually surfaces wrapped as StreamingQueryException,
    // but under parallel-suite load it can escape as the bare task
    // SparkException — the contract under test is the committed-prefix
    // visibility below, not the wrapper class
    val crash = intercept[Exception] {
      EventStreams.incrementalBatch(spark, in, "id long, v long", transform, out, ckpt,
        maxFilesPerTrigger = Some(1))
    }
    def mentionsCrash(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("injected crash")) ||
        mentionsCrash(t.getCause))
    assert(mentionsCrash(crash), s"unexpected failure: $crash")
    // the two batches committed before the crash are visible — and
    // ONLY those (the failed batch's partial output is not readable)
    val partial = spark.read.parquet(out).select("id", "v2").as[(Long, Long)].collect().toSet
    assert(partial === Set((1L, 20L), (2L, 40L), (3L, 60L)))

    java.nio.file.Files.writeString(java.nio.file.Paths.get(marker), "ok")
    EventStreams.incrementalBatch(spark, in, "id long, v long", transform, out, ckpt,
      maxFilesPerTrigger = Some(1))
    val all = spark.read.parquet(out).select("id", "v2").as[(Long, Long)].collect()
    // exactly-once: every input row appears once — nothing replayed
    // from the committed prefix, nothing lost from the failed batch
    assert(all.length === 5)
    assert(all.toSet === Set((1L, 20L), (2L, 40L), (3L, 60L), (4L, 80L), (5L, 100L)))
  }

  test("eachBatch: a throwing body fails the query; a restart re-delivers that batch id with the same rows") {
    // the exactly-once contract every micro-batch body relies on: a
    // batch is committed only after its body returns, so a failure
    // surfaces to the caller and the restart on the same checkpoint
    // re-presents the identical batch
    val root = java.nio.file.Files.createTempDirectory("graft_eachbatch").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    def addFile(name: String, ids: Seq[Long], mtime: Long): Unit = {
      val p = java.nio.file.Paths.get(in, name)
      java.nio.file.Files.writeString(p, ids.map(i => s"""{"id":$i}""").mkString("\n"))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // distinct mtimes + maxFilesPerTrigger=1 pin batch 0 = a, batch 1 = b
    addFile("a.json", Seq(1L, 2L), 1700000000000L)
    addFile("b.json", Seq(3L, 4L), 1700000060000L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def run(): Unit = {
      val stream = spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).json(in)
      EventStreams.eachBatch(stream, ckpt, trigger = Trigger.AvailableNow()) { (batch, id) =>
        val firstDelivery = seen.synchronized {
          seen += id -> batch.as[Long].collect().toSet
          seen.count(_._1 == id) == 1
        }
        if (id == 1L && firstDelivery) sys.error("injected body failure")
      }.awaitTermination()
    }
    def mentionsFailure(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("injected body failure")) ||
        mentionsFailure(t.getCause))
    val err = intercept[Exception](run())
    assert(mentionsFailure(err), s"the body's error must surface, got: $err")
    assert(seen.toList === List(0L -> Set(1L, 2L), 1L -> Set(3L, 4L)))
    run()
    // batch 0 was committed and is not replayed; batch 1 comes back
    // under the same id with the same rows
    assert(seen.toList === List(0L -> Set(1L, 2L), 1L -> Set(3L, 4L), 1L -> Set(3L, 4L)))
  }

  test("upsertToParquet: restart recovers aggregation state from the checkpoint") {
    // stop between micro-batches, land data while the query is down,
    // restart against the same checkpoint: the streaming aggregate's
    // state store must recover (counts continue, not restart at zero)
    // and the restarted batch must rewrite only the partitions it
    // touches.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_restart").toString
    val mem = MemoryStream[Event]
    def start() = EventStreams.upsertToParquet(
      mem.toDF().groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("bigint")).as("cents")),
      s"$root/t", s"$root/ckpt", "event_type")

    val q1 = start()
    mem.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      Event(2L, ts("2024-01-01 00:01:00"), 1L, "view", 2.0))
    q1.processAllAvailable()
    q1.stop()

    mem.addData(Event(3L, ts("2024-01-01 00:02:00"), 2L, "click", 5.0))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val outRows = spark.read.parquet(s"$root/t")
      .select("event_type", "n", "cents").as[(String, Long, Long)].collect().toSet
    // click n=2 proves the state store was recovered, not reset; the
    // view row proves the restarted batch left untouched partitions
    assert(outRows === Set(("click", 2L, 600L), ("view", 1L, 200L)))
  }

  test("micros keeps sub-millisecond precision (batch/stream parity)") {
    val t = ts("2024-01-01 00:00:00.000123456")
    // getTime truncates to ms (here: .000), so the old formula loses the 123 µs
    assert(EventStreams.micros(t) === t.getTime * 1000 + 123L)
  }

  test("statsLedgerStream appends per-batch summaries; rollup matches batch ledger and survives replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sketch.{Sketches, StatsLedger}
    val mem = MemoryStream[(Long, String, Long)] // (doc_id, grp, toks)
    val tmp = java.nio.file.Files.createTempDirectory("ledger_stream").toString
    val (path, ckpt) = (s"$tmp/ledger", s"$tmp/ckpt")
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "grp", "toks"), ckpt) { (batch, id) =>
      StatsLedger.append(path, StatsLedger.dropSummary(
        batch, s"batch-$id", col("grp"), col("doc_id"), col("toks")))
    }
    val b1 = (0L until 2000L).map(i => (i, (i % 2).toString, 5L))
    val b2 = (1000L until 4000L).map(i => (i, (i % 2).toString, 5L)) // overlaps b1
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val rolled = StatsLedger.corpusStats(spark, path).orderBy("group").collect()
    // two drops per group, additive columns double-count the overlap
    assert(rolled.map(_.getAs[Long]("n_drops")).toSeq === Seq(2L, 2L))
    assert(rolled.map(_.getAs[Long]("n_docs")).sum === (b1.size + b2.size).toLong)
    // distinct estimate ignores the overlap: bit-equal to the direct
    // estimate over the union of all streamed rows
    val direct = (b1 ++ b2).toDF("doc_id", "grp", "toks")
      .groupBy(col("grp").as("group"))
      .agg(Sketches.hll(xxhash64(col("doc_id"))).as("est"))
      .orderBy("group").select("est").as[Long].collect()
    assert(rolled.map(_.getAs[Long]("distinct_keys_est")).toSeq === direct.toSeq)

    // crash-replay idempotence: a retried batch id overwrites its own
    // drop_id partition instead of appending a duplicate summary
    StatsLedger
      .dropSummary(b2.toDF("doc_id", "grp", "toks"), "batch-1",
        col("grp"), col("doc_id"), col("toks"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("drop_id").parquet(path)
    val replayed = StatsLedger.corpusStats(spark, path).orderBy("group").collect()
    assert(replayed.map(_.getAs[Long]("n_drops")).toSeq === Seq(2L, 2L))
    assert(replayed.map(_.getAs[Long]("n_docs")).sum === (b1.size + b2.size).toLong)
  }

  test("olsTrendStream: rolled-up trend equals batch OLS over the union; replay is exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Relational._
    import graft.sketch.OlsLedger
    val mem = MemoryStream[(String, Long, Long)] // (grp, x, y)
    val tmp = java.nio.file.Files.createTempDirectory("ols_stream").toString
    val (path, ckpt) = (s"$tmp/ledger", s"$tmp/ckpt")
    val refX = 1000L
    val q = EventStreams.eachBatch(mem.toDF().toDF("grp", "x", "y"), ckpt) { (batch, id) =>
      OlsLedger.append(path, OlsLedger.dropSummary(
        batch, s"batch-$id", col("grp"), col("x"), col("y"), refX))
    }
    val rnd = new scala.util.Random(53)
    val b1 = (0 until 300).map(_ =>
      (s"g${rnd.nextInt(3)}", 1000L + rnd.nextInt(200), rnd.nextInt(500).toLong))
    val b2 = (0 until 300).map(_ =>
      (s"g${rnd.nextInt(3)}", 1000L + rnd.nextInt(200), rnd.nextInt(500).toLong))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val streamed = OlsLedger.trend(spark, path).orderBy("grp")
      .select("grp", "n", "n_drops", "slope", "sxy_num", "sxx_num")
      .as[(String, Long, Long, Double, Long, Long)].collect().toSeq
    // slope and the numerators are translation-invariant → bit-equal
    // to the batch operator (which centers on the group min)
    val direct = (b1 ++ b2).toDF("grp", "x", "y")
      .groupOls(Seq(col("grp")), col("x"), col("y"))
      .orderBy("grp").select("grp", "n", "slope", "sxy_num", "sxx_num")
      .as[(String, Long, Double, Long, Long)].collect().toSeq
    assert(streamed.map(r => (r._1, r._2, r._4, r._5, r._6)) ===
      direct.map(r => (r._1, r._2, r._3, r._4, r._5)))
    assert(streamed.forall(_._3 === 2L)) // two drops per group

    // crash replay: re-appending batch 1's summary under its own
    // drop_id overwrites, never double-counts
    OlsLedger.append(path, OlsLedger.dropSummary(
      b1.toDF("grp", "x", "y"), "batch-0", col("grp"), col("x"), col("y"), refX))
    val replayed = OlsLedger.trend(spark, path).orderBy("grp")
      .select("grp", "n", "n_drops", "slope", "sxy_num", "sxx_num")
      .as[(String, Long, Long, Double, Long, Long)].collect().toSeq
    assert(replayed === streamed)
  }

  test("prioritySampleStream: running sample is bit-equal to batch over the union; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sketch.Sketches
    val mem = MemoryStream[(Long, Long)] // (key, w)
    val tmp = java.nio.file.Files.createTempDirectory("prio_stream").toString
    val (path, ckpt) = (s"$tmp/sample", s"$tmp/ckpt")
    val k = 5
    val q = EventStreams.eachBatch(mem.toDF().toDF("key", "w"), ckpt) { (batch, _) =>
      Sketches.foldPriorityCandidates(path, batch, col("key"), col("w"), k)
    }
    val rnd = new scala.util.Random(41)
    val b1 = (0L until 300L).map(i => (i, 1L + rnd.nextInt(1000000).toLong))
    val b2 = (300L until 700L).map(i => (i, 1L + rnd.nextInt(1000000).toLong))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val streamed = Sketches.sampleFromCandidates(spark.read.parquet(path), k)
      .orderBy("key").as[(Long, Long, Long, Long, Long)].collect().toSeq
    val direct = Sketches.prioritySample(
        (b1 ++ b2).toDF("key", "w"), col("key"), col("w"), k)
      .orderBy("key").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed === direct)
    assert(streamed.size === k)

    // crash-replay: folding a batch the ledger already absorbed must
    // leave the candidate set bit-identical
    def ledger() = spark.read.parquet(path).orderBy("key")
      .as[(Long, Long, Long)].collect().toSeq
    val before = ledger()
    Sketches.foldPriorityCandidates(path, b2.toDF("key", "w"), col("key"), col("w"), k)
    assert(ledger() === before)
  }

  test("semanticScreenStream drops the paraphrase the gram screens cannot see, batch-parity") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("semscr").toString
    val q = EventStreams.eachBatch(mem.toDF().toDF("doc_id", "text"), ckpt) { (batch, _) =>
      val out = graft.dedup.Decontam.decontaminateSemantic(batch, col("text"), col("doc_id"),
        bench, col("text"), col("doc_id"), dim = 64, tau = 0.99)
      got.synchronized { got ++= out.select("doc_id").as[Long].collect() }
    }
    val rows = Seq(
      (1L, "dog tonight jumps quick the brown over lazy fox the"), // shuffled paraphrase → dropped
      (2L, "completely unrelated text about catalyst plans and wide shuffles"))
    mem.addData(rows: _*); q.processAllAvailable()
    mem.addData((3L, "another innocuous document entirely")); q.processAllAvailable()
    q.stop()
    assert(got.toSet === Set(2L, 3L))
    // batch parity: the stream kept exactly what the batch screen keeps
    val batchFlagged = graft.dedup.Decontam.semanticContamination(
        (rows :+ (3L, "another innocuous document entirely")).toDF("doc_id", "text"),
        col("text"), col("doc_id"), bench, col("text"), col("doc_id"), dim = 64, tau = 0.99)
      .select("doc_id").as[Long].collect().toSet
    assert(got.toSet === Set(1L, 2L, 3L) -- batchFlagged)
  }

  test("clusterStream: streamed drop merges equal batch CC over the union; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // near-dup pairs (a, b)
    val tmp = java.nio.file.Files.createTempDirectory("cluster_stream").toString
    val (path, ckpt) = (s"$tmp/ledger", s"$tmp/ckpt")
    val q = EventStreams.eachBatch(mem.toDF().toDF("a", "b"), ckpt) { (batch, _) =>
      graft.dedup.ClusterLedger.append(path, batch, "a", "b", numBuckets = 8)
    }
    val b1 = Seq((1L, 2L), (3L, 4L), (10L, 10L))
    val b2 = Seq((2L, 3L), (5L, 6L), (4L, 20L)) // bridges {1,2}+{3,4}, adds {5,6}, attaches 20
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val streamed = graft.dedup.ClusterLedger.labels(spark, path)
      .as[(Long, Long)].collect().toSet
    val direct = graft.dedup.Components.connectedComponents(
        (b1 ++ b2).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(streamed === direct)

    // crash-replay shape: re-appending the already-absorbed batch is a
    // no-op — min-label merging is a semilattice fold
    val stats = graft.dedup.ClusterLedger.append(path, b2.toDF("a", "b"), "a", "b", numBuckets = 8)
    assert(stats.relabeled === 0L && stats.newIds === 0L)
    val replayed = graft.dedup.ClusterLedger.labels(spark, path)
      .as[(Long, Long)].collect().toSet
    assert(replayed === direct)
  }

  test("mergeStream: streamed CDC drops equal sequential batch merges; replay is idempotent") {
    import graft.sources.Versioned
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("merge_stream").toString
    val root = s"$tmp/table"
    val base = (1L to 10L).map(j => (j, s"d$j")).toDF("id", "v")
    assert(Versioned.promoteBucketed(base, root, "id", 4).promoted)

    val mem = MemoryStream[(Long, String, Boolean)] // (id, v, del)
    val q = EventStreams.mergeStream(
      mem.toDF().toDF("id", "v", "del"), root, "del", s"$tmp/ckpt")
    val b1 = Seq((3L, "d3 v2", false), (5L, "", true), (11L, "d11", false))
    val b2 = Seq((3L, "d3 v3", false), (11L, "", true), (12L, "d12", false))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val streamed = Versioned.read(spark, root).as[(Long, String)].collect().toSet
    val expect = ((1L to 10L).filterNot(_ == 5L)
      .map(j => j -> (if (j == 3L) "d3 v3" else s"d$j")) :+ (12L -> "d12")).toSet
    assert(streamed === expect)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.rows) === Some(10L))

    // crash-replay shape: re-merging the last committed drop publishes
    // a version whose content equals its parent's — nothing moves
    val rep = Versioned.merge(b2.toDF("id", "v", "del"), root,
      org.apache.spark.sql.functions.col("del"))
    assert(rep.merged && rep.inserted === 0L)
    assert(Versioned.read(spark, root).as[(Long, String)].collect().toSet === expect)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.rows) === Some(10L))
    // and the change feed between the pre-drop and post-drop versions
    // reads the lifecycle exactly (the drop's own shape)
    import org.apache.spark.sql.functions.col
    val diff = Versioned.diffVersions(spark, root, 1, 3, col("id"), col("v"), keyName = "id")
      .as[(Long, String)].collect().toMap
    assert(diff(3L) === "changed" && diff(5L) === "removed" &&
      diff(12L) === "added" && diff(4L) === "unchanged" && !diff.contains(11L))
  }

  test("mergeStream: a CDC stream carrying a NEW column widens the table at drop cost") {
    // the 38ae × 22bh4 composition: an upstream source starts emitting
    // an extra column mid-pipeline — the streamed merges widen the
    // bucketed table by name (old rows read null) without any
    // republish, and later batches keep using the widened schema
    import graft.sources.Versioned
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("merge_stream_ev").toString
    val root = s"$tmp/table"
    val base = (1L to 8L).map(j => (j, s"d$j")).toDF("id", "v")
    assert(Versioned.promoteBucketed(base, root, "id", 4).promoted)

    val mem = MemoryStream[(Long, String, String, Boolean)] // (id, v, lang, del)
    val q = EventStreams.mergeStream(
      mem.toDF().toDF("id", "v", "lang", "del"), root, "del", s"$tmp/ckpt")
    mem.addData((2L, "d2 v2", "en", false), (9L, "d9", "de", false))
    q.processAllAvailable()
    mem.addData((3L, "d3 v2", "fr", false), (9L, "", "", true))
    q.processAllAvailable()
    q.stop()

    val got = Versioned.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "v", "lang"))
    val langs = got.select("id", "lang").as[(Long, Option[String])].collect().toMap
    assert(langs(2L) === Some("en") && langs(3L) === Some("fr"))
    assert(langs(1L) === None, "pre-evolution rows must read null for the added column")
    assert(!langs.contains(9L) && langs.size === 8)
    assert(Versioned.currentManifest(root).flatMap(_.buckets).map(_.rows) === Some(8L))
  }

  test("changeFeedStream tails the warehouse: per-version diffs, exactly once, resumable") {
    import graft.sources.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_cfs").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cfs_ck").toString
    def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    assert(Versioned.promoteBucketed(
      docsDf(1L -> "a", 2L -> "b", 3L -> "c"), root, "doc_id", 4).promoted)
    assert(Versioned.merge(Seq((2L, "b v2", false), (4L, "d", false))
      .toDF("doc_id", "text", "del"), root, deleted = col("del")).merged)
    assert(Versioned.merge(Seq((1L, null.asInstanceOf[String], true))
      .toDF("doc_id", "text", "del"), root, deleted = col("del")).merged)

    val got = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    def run(): Unit = {
      val q = Versioned.startChangeFeed(spark, root, ckpt,
        col("doc_id"), col("text"), keyName = "doc_id") { (diff, _) =>
        got ++= diff.select(col("version"), col("doc_id"), col("status"))
          .as[(Int, Long, String)].collect()
      }
      q.awaitTermination()
    }
    run()
    // parity: the stream's rows ARE the batch change feed, per version
    val v1 = got.filter(_._1 == 1)
    assert(v1.map(r => (r._2, r._3)).toSet
      === Set((1L, "added"), (2L, "added"), (3L, "added")),
      "the first version diffs against empty: all added")
    assert(got.filter(_._1 == 2).map(r => (r._2, r._3)).toSet
      === Versioned.diffVersions(spark, root, 1, 2, col("doc_id"), col("text"), "doc_id")
        .select(col("doc_id"), col("status")).as[(Long, String)].collect().toSet)
    assert(got.filter(_._1 == 3).map(r => (r._2, r._3)).toSet
      === Versioned.diffVersions(spark, root, 2, 3, col("doc_id"), col("text"), "doc_id")
        .select(col("doc_id"), col("status")).as[(Long, String)].collect().toSet)
    // a restart on the same checkpoint with nothing new emits NOTHING
    val seen = got.size
    run()
    assert(got.size === seen, "exactly-once: a replayed stream re-emits no processed version")
    // a new publish arrives as exactly its own diff on the next run
    assert(Versioned.merge(Seq((5L, "e", false)).toDF("doc_id", "text", "del"),
      root, deleted = col("del")).merged)
    run()
    val v4 = got.drop(seen)
    assert(v4.forall(_._1 == 4) && v4.map(r => (r._2, r._3)).toSet
      .filterNot(_._2 == "unchanged") === Set((5L, "added")))
    // a pre-feed table (chain written before the feed existed)
    // backfills on stream start: simulate by deleting feed entries
    val feedDir = new java.io.File(root, "feed")
    feedDir.listFiles().foreach(_.delete())
    Versioned.syncFeed(root)
    assert(feedDir.listFiles().map(_.getName).sorted.toSeq
      === Seq("v00001.json", "v00002.json", "v00003.json", "v00004.json"))
  }

  test("replicateStream keeps a replica content-equal to the source at delta cost") {
    import graft.sources.Versioned
    val src = java.nio.file.Files.createTempDirectory("graft_repl_src").toString + "/t"
    val dst = java.nio.file.Files.createTempDirectory("graft_repl_dst").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_repl_ck").toString
    assert(Versioned.promoteBucketed(
      Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("doc_id", "text"), src, "doc_id", 4).promoted)
    assert(Versioned.merge(Seq((2L, "b v2", false), (4L, "d", false))
      .toDF("doc_id", "text", "del"), src, deleted = col("del")).merged)
    // schema evolution at the source must replicate as evolution
    assert(Versioned.merge(Seq((1L, null.asInstanceOf[String], true, null.asInstanceOf[String]),
      (5L, "e", false, "en")).toDF("doc_id", "text", "del", "lang"),
      src, deleted = col("del")).merged)
    def sync(): Unit = Versioned.replicateStream(spark, src, dst, ckpt).awaitTermination()
    def content(root: String) = Versioned.read(spark, root)
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect().toSet
    sync()
    assert(content(dst) === content(src))
    assert(content(dst) === Set((2L, "b v2", null), (3L, "c", null),
      (4L, "d", null), (5L, "e", "en")))
    // replay: nothing new → the replica's version does not move
    val vDst = Versioned.currentManifest(dst).map(_.version)
    sync()
    assert(Versioned.currentManifest(dst).map(_.version) === vDst)
    // layout-only source publishes (rebucket) replicate as NOTHING;
    // content publishes keep flowing after them
    assert(Versioned.rebucket(spark, src, 8).promoted)
    assert(Versioned.merge(Seq((3L, "c v2", false, null.asInstanceOf[String]))
      .toDF("doc_id", "text", "del", "lang"), src, deleted = expr("del")).merged)
    sync()
    assert(content(dst) === content(src))
    assert(Versioned.lookup(spark, dst, 3L).select("text")
      .as[String].collect().toSeq === Seq("c v2"))
    // the replica cloned the source's ORIGINAL layout and keeps it
    // (its own maintenance is its own) — 4 buckets, not the rebucket's 8
    assert(Versioned.currentManifest(dst).flatMap(_.buckets).map(_.numBuckets) === Some(4))
  }

  test("replication survives vacuumed source history and a lost checkpoint (resync paths)") {
    import graft.sources.Versioned
    val src = java.nio.file.Files.createTempDirectory("graft_rsy_src").toString + "/t"
    val dst = java.nio.file.Files.createTempDirectory("graft_rsy_dst").toString + "/t"
    def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    assert(Versioned.promoteBucketed(docsDf(1L -> "a", 2L -> "b"), src, "doc_id", 4).promoted)
    for (i <- 3 to 6)
      assert(Versioned.merge(Seq((i.toLong, s"v$i", false)).toDF("doc_id", "text", "del"),
        src, deleted = col("del")).merged)
    // routine source maintenance: compact collapses the owner map,
    // the next merge rotates `previous` off the old chain, and vacuum
    // then reclaims it — versions 1..6 become UNREADABLE history
    assert(Versioned.compact(spark, src).promoted) // v7
    assert(Versioned.merge(Seq((6L, "v6b", false)).toDF("doc_id", "text", "del"),
      src, deleted = col("del")).merged) // v8: previous -> v7
    Versioned.vacuum(src, retainLast = 1)
    assert(!new java.io.File(src, "v00001").exists(), "v1's data must be gone")
    // a BRAND-NEW consumer bootstraps anyway: unreadable versions are
    // skipped, the first readable one bootstraps, later ones apply
    val ck1 = java.nio.file.Files.createTempDirectory("graft_rsy_ck1").toString
    Versioned.replicateStream(spark, src, dst, ck1).awaitTermination()
    def content(root: String) = Versioned.read(spark, root)
      .as[(Long, String)].collect().toSet
    assert(content(dst) === content(src))
    // a LOST checkpoint replays the whole feed: unreadable versions
    // skip, readable ones resync against the replica itself — the
    // replica converges to the same content, nothing duplicates
    val ck2 = java.nio.file.Files.createTempDirectory("graft_rsy_ck2").toString
    Versioned.replicateStream(spark, src, dst, ck2).awaitTermination()
    assert(content(dst) === content(src))
    // and the feed keeps flowing on the fresh checkpoint
    assert(Versioned.merge(Seq((7L, "v7", false)).toDF("doc_id", "text", "del"),
      src, deleted = col("del")).merged)
    Versioned.replicateStream(spark, src, dst, ck2).awaitTermination()
    assert(content(dst) === content(src))
    assert(content(dst).contains(7L -> "v7"))
    // a RAW change-feed consumer on the vacuumed table: unreadable
    // versions skip, the first readable one arrives as an INITIAL
    // SNAPSHOT (all added), later versions as ordinary diffs
    val ck3 = java.nio.file.Files.createTempDirectory("graft_rsy_ck3").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    Versioned.startChangeFeed(spark, src, ck3, col("doc_id"), col("text"),
      keyName = "doc_id") { (diff, _) =>
      got.synchronized { got ++= diff.select(col("version"), col("doc_id"), col("status"))
        .as[(Int, Long, String)].collect() }
    }.awaitTermination()
    val byV = got.groupBy(_._1)
    val firstV = byV.keys.min
    assert(firstV > 1, "vacuumed versions must be skipped")
    assert(byV(firstV).forall(_._3 == "added"), "first readable version = initial snapshot")
    assert(byV.keys.max === Versioned.currentManifest(src).map(_.version).get)
  }
}
