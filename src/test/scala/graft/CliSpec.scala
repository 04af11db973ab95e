package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CoreOps._
import graft.operators.Relational._
import graft.sources.{PartitionedFiles, Versioned}

/** Every `graft.Cli` verb, run in-process through `Cli.run` on the
  * shared session, against the direct library call on the same input.
  * Inputs are small synthetic tables written into a fresh temp
  * directory: documents with exact and near duplicates, an event log,
  * and embeddings with duplicated vectors. The last test checks that
  * the verbs run here are exactly `Cli.verbs`' keys. */
class CliSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val root: File = Files.createTempDirectory("cli-spec").toFile
  private def p(name: String): String = new File(root, name).getPath

  private val ran = mutable.Set.empty[String]
  private def verbOf(args: List[String]): Option[String] = args match {
    case k :: _ :: t if k.startsWith("-") => verbOf(t)
    case w :: _ => Some(w)
    case Nil => None
  }
  private def cli(args: String*): Unit = {
    verbOf(args.toList).foreach(ran += _)
    Cli.run(spark, args.toArray)
  }
  /** Runs a verb over a parquet input, writing parquet to `out`. */
  private def pq(in: String, out: String, args: String*): DataFrame = {
    cli(Seq("-i", in, "-f", "parquet") ++ args ++ Seq("--outfile", p(out)): _*)
    load(p(out))
  }
  private def stdout(args: String*): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(cli(args: _*))
    buf.toString.trim
  }
  private def load(path: String): DataFrame = PartitionedFiles.readParquet(spark, path)
  private def save(name: String, df: DataFrame, parts: Int = 2): String = {
    PartitionedFiles.writeParquet(df, p(name), parts)
    p(name)
  }
  /** `got` and `want` hold the same rows with the same multiplicities
    * (`exceptAll` both ways, in one job so `want` is computed once).
    * Returns the row count. */
  private def assertSame(got: DataFrame, want: DataFrame): Long = {
    val tagged = got.withColumn("__side", lit(1L)).union(want.withColumn("__side", lit(-1L)))
    val d = tagged.groupBy(got.columns.map(c => col(s"`$c`")): _*)
      .agg(sum("__side").as("__d"), sum(when(col("__side") === 1L, 1L).otherwise(0L)).as("__n"))
    val r = d.agg(sum(greatest(col("__d"), lit(0L))), sum(greatest(-col("__d"), lit(0L))), sum("__n")).head()
    val Seq(extra, missing, n) = (0 to 2).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    assert(extra == 0 && missing == 0, s"$extra unexpected and $missing missing rows")
    n
  }
  private def assertSameNonEmpty(got: DataFrame, want: DataFrame): Unit =
    assert(assertSame(got, want) > 0, "empty output")

  private val Vocab = Seq("the", "and", "of", "to", "with", "that", "have", "be", "a",
    "spark", "merge", "dup", "table", "scan", "join", "batch", "window", "hash", "query",
    "row", "data", "filter", "sort", "key", "part", "stream", "vector", "value", "order",
    "line", "column", "group", "small", "big", "fast", "slow", "customer", "agg")

  // of the text of doc_id - doc_id % 8, doc_id % 8 = 1 is a near
  // duplicate (one extra word), = 2 an exact duplicate, and = 3 shares
  // the first 60% of its words (a pair the LSH bands catch or miss
  // depending on --bands and --rows-per-band)
  private lazy val docs: String = {
    val words = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    save("docs", spark.range(480)
      .selectExpr("id AS doc_id", "IF(id % 8 IN (1, 2, 3), id - id % 8, id) AS base")
      .selectExpr("doc_id", "base", "12 + CAST(pmod(base * 7, 40) AS INT) AS len")
      .selectExpr("doc_id", s"concat_ws(' ', transform(sequence(1, len), i -> element_at($words, " +
        s"1 + CAST(pmod(xxhash64(IF(doc_id % 8 = 3 AND i > len * 0.6, doc_id, base), i), ${Vocab.size}) AS INT)))) AS t")
      .selectExpr("doc_id", "IF(doc_id % 8 = 1, concat(t, ' extra'), t) AS text",
        "element_at(array('en', 'es', 'de', 'fr', 'zh'), CAST(pmod(doc_id, 5) AS INT) + 1) AS lang",
        "concat('src', pmod(doc_id, 16)) AS source")
      .withColumn("n_chars", length(col("text")).cast("bigint")))
  }
  private lazy val events: String = save("events", spark.range(400).selectExpr(
    "id AS event_id", "timestamp_micros(1704067200000000L + id * 450000000L) AS ts",
    "pmod(xxhash64(id, 'u'), 25) AS user_id",
    "element_at(array('view', 'click', 'signup', 'purchase', 'error'), " +
      "CAST(pmod(xxhash64(id, 't'), 5) AS INT) + 1) AS event_type",
    "CAST(pmod(xxhash64(id, 'v'), 20000) AS DOUBLE) / 100 AS value"))
  // vec_id % 4 = 1 repeats the vector of vec_id - 1
  private lazy val emb: String = save("emb", spark.range(120)
    .selectExpr("id AS vec_id", "IF(id % 4 = 1, id - 1, id) AS b")
    .selectExpr("vec_id",
      "transform(sequence(0, 15), j -> CAST(sin(b * 13.0 + j * 7.0) + 0.3 * cos(b * 3.0 + j) AS FLOAT)) AS embedding",
      "CAST(pmod(b, 3) AS INT) AS label"))
  private lazy val bench: String = save("bench", load(docs).filter(col("doc_id") % 50 === 0), 1)
  private lazy val pairs: DataFrame =
    pq(docs, "pairs", "dedup-minhash", "--text", "text", "--id", "doc_id", "--emit", "pairs")

  private def dd = load(docs)
  private def ev = load(events)
  private val evValue = "cast(round(value * 100) as bigint)"
  private val evMicros = "unix_micros(cast(ts as timestamp))"

  override def afterAll(): Unit = {
    try {
      spark.sql("DROP DATABASE IF EXISTS cli_idx CASCADE")
      spark.sql("DROP DATABASE IF EXISTS cli_idxm CASCADE")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    } finally super.afterAll()
  }

  test("shmr partition verbs over jsonl: gzip round trip, join, keyed distinct, head, apply, count") {
    val s = Some("id long, v long")
    PartitionedFiles.writeJsonl(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "v"), p("in"), 2)
    def json(path: String, schema: String) = PartitionedFiles.readJsonl(spark, path, Some(schema))
    def in(args: String*): Unit = cli(Seq("-i", p("in"), "-f", "json", "--schema", s.get) ++ args: _*)

    in("partition.map", "--expr", "id, v * 2 AS v2", "--outfile", p("gz"), "--codec", "gzip")
    assert(new File(p("gz")).listFiles().exists(_.getName.endsWith(".json.gz")))
    cli("-i", p("gz"), "-f", "json", "--schema", "id long, v2 long",
      "partition.reduce", "--aggs", "sum(v2) AS s, count(1) AS n", "--outfile", p("agg"))
    assert(json(p("agg"), "s long, n long").as[(Long, Long)].collect().toSeq === Seq((200L, 4L)))

    in("partition.join", "--with", p("gz"), "--with-schema", "id long, v2 long",
      "--key", "id", "--with-key", "id", "--outfile", p("joined"))
    assert(json(p("joined"), "id long, v long, with_id long, v2 long").select("id", "v", "v2")
      .as[(Long, Long, Long)].collect().sorted.toSeq ===
      Seq((1L, 10L, 20L), (2L, 20L, 40L), (3L, 30L, 60L), (4L, 40L, 80L)))

    in("partition.distinct", "--expr", "id % 2 AS parity, id, v", "--key", "parity", "--order", "id",
      "--outfile", p("dk"))
    assert(json(p("dk"), "parity long, id long, v long").as[(Long, Long, Long)].collect().sorted.toSeq ===
      Seq((0L, 2L, 20L), (1L, 1L, 10L)))

    in("partition.flat_map", "--expr", "explode(array(id, v)) AS x", "--outfile", p("flat"))
    assert(json(p("flat"), "x long").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L, 10L, 20L, 30L, 40L))
    in("partition.filter", "--expr", "v > 15", "--outfile", p("filtered"))
    assert(json(p("filtered"), s.get).count() === 3L)
    in("partition.reduce_by_key", "--keys", "id % 2 AS k", "--aggs", "sum(v) AS s", "--outfile", p("rbk"))
    val src = json(p("in"), s.get)
    assertSame(json(p("rbk"), "k long, s long"),
      src.reduceByKey(Seq(expr("id % 2 AS k")), Seq(expr("sum(v) AS s"))))
    assert(json(p("rbk"), "k long, s long").as[(Long, Long)].collect().sorted.toSeq === Seq((0L, 60L), (1L, 40L)))
    in("partition.head", "--n", "2", "--order", "v DESC", "--outfile", p("head"))
    assert(json(p("head"), s.get).as[(Long, Long)].collect().sorted.toSeq === Seq((3L, 30L), (4L, 40L)))
    in("partitions.reduce", "--aggs", "max(v) AS m, min(id) AS lo", "--outfile", p("preduce"))
    assert(json(p("preduce"), "m long, lo long").as[(Long, Long)].collect().toSeq === Seq((40L, 1L)))
    in("partitions.concat", "--outfile", p("concat"))
    assert(new File(p("concat")).listFiles().count(f => f.getName.startsWith("part-")) === 1)
    assertSame(json(p("concat"), s.get), src)

    assert(stdout("-i", p("in"), "-f", "json", "--schema", s.get,
      "partition.apply", "--expr", "assert_true(v >= 0)") === "4")
    assert(stdout("-i", p("in"), "-f", "json", "--schema", s.get, "partition.count") === "4")

    // shmr-literal output naming: {auto:05d} template + delete-on-empty
    in("partition.map", "--expr", "id, v", "--outfile", p("named"),
      "--names", "chunk-{auto}.jsonl", "--delete-on-empty", "true")
    val named = new File(p("named")).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).sorted
    assert(named.nonEmpty && named.zipWithIndex.forall { case (n, i) => n == f"chunk-$i%05d.jsonl" },
      named.mkString(","))

    // columnar input and output with an explicit codec
    save("regions", spark.range(5).toDF("r"), 1)
    cli("-i", p("regions"), "-f", "parquet", "partition.reduce", "--aggs", "count(1) AS n",
      "--outfile", p("pqn"), "--codec", "snappy")
    assert(load(p("pqn")).as[Long].head() === 5L)
  }

  test("sort lists: ASC/DESC with SQL null defaults, NULLS FIRST|LAST, commas inside calls and quotes") {
    assert(Cli.splitList("concat(a, ',', b), coalesce(x, (y)) DESC, `c,d`") ===
      Seq("concat(a, ',', b)", "coalesce(x, (y)) DESC", "`c,d`"))
    val t = Seq((1L, Some(20L)), (2L, None), (3L, Some(10L)), (4L, Some(20L))).toDF("id", "v")
    def order(spec: String): Seq[Long] =
      t.orderBy(Cli.splitList(spec).map(Cli.sortItem): _*).as[(Long, Option[Long])].collect().map(_._1).toSeq
    assert(order("v, id") === Seq(2L, 3L, 1L, 4L))
    assert(order("v ASC NULLS LAST, id desc") === Seq(3L, 4L, 1L, 2L))
    assert(order("v DESC, id") === Seq(1L, 4L, 3L, 2L))
    assert(order("v desc nulls first, id DESC") === Seq(2L, 4L, 1L, 3L))
    assert(order("coalesce(v, 15) DESC, id") === Seq(1L, 4L, 2L, 3L))
    assert(intercept[Cli.CliError](Cli.sortItem("")).getMessage.contains("not a sort item"))
  }

  test("the reference suite's own cases over csv: count, reduce, split_by_key, coalesce") {
    val ages = (0 until 100).map(i => 18 + (i * 37) % 60)
    Files.writeString(Paths.get(p("people.csv")), "id,first,last,age\n" + ages.zipWithIndex
      .map { case (a, i) => s"$i,fn$i,ln$i,$a" }.mkString("\n"))
    val schema = "id long, first string, last string, age long"
    def people(args: String*): Unit = cli(Seq("-i", p("people.csv"), "-f", "csv", "--schema", schema) ++ args: _*)

    people("partition.count", "--outfile", p("count.txt"))
    assert(Files.readString(Paths.get(p("count.txt"))).trim === "100")
    people("partition.reduce", "--aggs", "sum(age) AS s", "--outfile", p("sum"))
    assert(PartitionedFiles.readCsv(spark, p("sum"), header = true, Some("s long")).as[Long].head() ===
      ages.map(_.toLong).sum)
    // every row in bucket=b has age % 5 == b
    people("partition.split_by_key", "--key", "age", "--num-partitions", "5", "--outfile", p("split"))
    val split = PartitionedFiles.readJsonl(spark, p("split") + "/bucket=*", Some(schema))
      .withColumn("bucket", regexp_extract(input_file_name(), "bucket=(\\d+)", 1).cast("long"))
    assert(split.count() === 100L)
    assert(split.filter(pmod(col("age"), lit(5)) =!= col("bucket")).count() === 0L)
    // 100 records / 50 per partition → 2 files
    people("partitions.coalesce", "--records-per-partition", "50", "--outfile", p("co"))
    assert(new File(p("co")).listFiles().count(_.getName.endsWith(".csv")) === 2)
  }

  test("dedup verbs: minhash keep/pairs/keep-best, novel, neighbors, winnow, cc-sizes, stop-grams") {
    import graft.dedup.{Components, Dedup, DocFreqCap}
    val in = dd
    val libPairs = Dedup.minhashCandidatePairs(in, col("text"), col("doc_id"))
    assertSameNonEmpty(pairs, libPairs)
    val kept = pq(docs, "deduped", "dedup-minhash", "--text", "text", "--id", "doc_id")
    assertSame(kept, Components.keepOnePerCluster(in, col("doc_id"), libPairs, "doc_a", "doc_b"))
    assert(kept.count() < in.count())
    val best = pq(docs, "dedupedBest", "dedup-minhash", "--text", "text", "--id", "doc_id",
      "--emit", "keep-best", "--order", "length(text) DESC, doc_id")
    assertSame(best, Components.keepBestPerCluster(in, col("doc_id"), libPairs, "doc_a", "doc_b",
      Seq(length(col("text")).desc, col("doc_id"))))
    assert(best.count() === kept.count())

    // every doc band-collides with its own corpus copy: nothing is novel
    assert(pq(docs, "novel", "novel", "--corpus", docs, "--text", "text", "--id", "doc_id").count() === 0L)

    // n docs in a window of 5 → Σ_{d=1..4}(n−d) = 4n−10 pairs, rank_dist in [1,4]
    val snm = pq(docs, "snm", "neighbors", "--text", "text", "--id", "doc_id", "--window", "5")
    assert(snm.count() === in.count() * 4 - 10)
    assert(snm.filter(!col("rank_dist").between(1, 4)).count() === 0L)

    assertSameNonEmpty(pq(docs, "winnow", "winnow", "--text", "text", "--id", "doc_id"),
      graft.text.TextAnalysis.winnowFingerprints(in, col("text"), col("doc_id"), 5, 4))
    assertSameNonEmpty(pq(p("pairs"), "ccsizes", "cc-sizes", "--a", "doc_a", "--b", "doc_b"),
      Components.componentSizes(Components.connectedComponents(pairs, "doc_a", "doc_b"), col("cluster_id")))
    assertSameNonEmpty(pq(docs, "stopgrams", "stop-grams", "--text", "text", "--id", "doc_id", "--cap", "4"),
      Dedup.stopGrams(in, col("text"), col("doc_id"), cap = DocFreqCap.Fixed(4)))
  }

  test("text prep verbs: pack, split-assign, sample-tokens, sample-weighted, shuffle, pack-sequences") {
    import graft.text.{TextAnalysis, TextPrep}
    val in = dd
    val tokens = TextAnalysis.tokenCount(col("text"))
    val packed = pq(docs, "packed", "pack", "--text", "text", "--id", "doc_id",
      "--shard", "pmod(doc_id, 8)", "--budget", "200")
    assertSameNonEmpty(packed, TextPrep.packByTokenBudget(in.withColumn("__shard", expr("pmod(doc_id, 8)")),
      col("__shard"), Seq(col("doc_id")), tokens, 200L).withColumnRenamed("__shard", "shard"))
    // a batch exceeds the budget only via its last (straddling) doc
    assert(packed.groupBy("shard", "batch_id").agg(sum("n_tokens").as("t"), max("n_tokens").as("m"))
      .filter(col("t") - col("m") >= 200L).count() === 0L)

    assertSame(pq(docs, "split", "split-assign", "--key", "doc_id"),
      in.withColumn("split", TextPrep.splitAssign(col("doc_id"))))
    assertSameNonEmpty(pq(docs, "sampled", "sample-tokens", "--text", "text", "--id", "doc_id",
      "--group", "source", "--budget", "100"),
      TextPrep.sampleByTokenBudget(in, col("source"), col("doc_id"), tokens, 100L))
    val ws = pq(docs, "wsample", "sample-weighted", "--key", "doc_id", "--weight", "n_chars", "--threshold", "200")
    assertSame(ws, in.filter(TextPrep.weightedSample(col("doc_id"), col("n_chars"), 200L)))
    assert(ws.count() > 0 && ws.count() < in.count())

    val ranks = pq(docs, "shuffled", "shuffle", "--key", "doc_id", "--seed", "7")
      .select("shuffle_rank").as[Long].collect().sorted
    assert(ranks.toSeq === (0L until in.count()))
    val seqs = pq(docs, "packedseq", "pack-sequences", "--text", "text", "--id", "doc_id",
      "--shard", "pmod(doc_id, 4)", "--budget", "200")
    assertSame(seqs, TextPrep.packSequences(in, expr("pmod(doc_id, 4)"), Seq(col("doc_id")), col("text"),
      tokens, 200L, "\n"))
    assert(seqs.agg(sum("n_docs")).as[Long].head() === in.count())
  }

  test("scrub verbs: decontam, boilerplate, scrub-spans, scrub-sentences") {
    import graft.dedup.{Decontam, SentenceDedup, SubstringDedup}
    val in = dd
    val b = load(bench)
    val clean = pq(docs, "decontaminated", "decontam", "--bench", bench, "--text", "text", "--id", "doc_id",
      "--min-hits", "3")
    assertSame(clean, Decontam.decontaminate(in, col("text"), col("doc_id"), b, col("text"), col("doc_id"), 3, 3L))
    assert(clean.count() < in.count())
    assertSameNonEmpty(pq(docs, "scrubbed", "boilerplate", "--text", "text", "--id", "doc_id",
      "--min-doc-freq", "5"),
      graft.text.TextPrep.removeFrequentGrams(in, col("text"), col("doc_id"), 3, 5L))
    assertSameNonEmpty(pq(docs, "despanned", "scrub-spans", "--text", "text", "--id", "doc_id", "--window", "8"),
      SubstringDedup.scrubDuplicatedSpans(in, col("text"), col("doc_id"), 8))
    assertSameNonEmpty(pq(docs, "spans", "scrub-spans", "--text", "text", "--id", "doc_id", "--window", "8",
      "--emit", "spans"), SubstringDedup.duplicatedSpans(in, col("text"), col("doc_id"), 8))
    assertSameNonEmpty(pq(docs, "sspans", "scrub-sentences", "--text", "text", "--id", "doc_id",
      "--emit", "spans"), SentenceDedup.duplicatedSentenceSpans(in, col("text"), col("doc_id"), 8))
  }

  test("quality verbs: validate, schema-check, lm-score, rrf, datasheet, nb-classify, dsir, unimax") {
    import graft.quality.{Datasheet, Ensemble}
    val in = dd
    val rules = pq(docs, "validated", "validate", "--not-null", "doc_id,text", "--unique", "doc_id",
      "--check", "length(text) > 0; doc_id >= 0").as[(String, Long)].collect().toMap
    assert(rules.size === 5 && rules.values.forall(_ == 0L), rules)

    val drift = pq(docs, "drift", "schema-check", "--expect",
      "doc_id BIGINT, text STRING, lang INT, missing_col STRING, n_chars BIGINT")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(drift("doc_id") === "ok" && drift("lang") === "type_changed" &&
      drift("missing_col") === "missing" && drift("source") === "extra", drift)

    assertSameNonEmpty(pq(docs, "lm", "lm-score", "--text", "text", "--id", "doc_id", "--rare-max", "100"),
      graft.text.TextAnalysis.lmScore(in, col("text"), col("doc_id"), 100L))
    assertSameNonEmpty(pq(docs, "rrf", "rrf", "--id", "doc_id",
      "--signals", "len=size(split(trim(text),'\\\\s+'));chars=n_chars"),
      Ensemble.rrf(in, col("doc_id"), Seq("len" -> expr("size(split(trim(text),'\\\\s+'))"), "chars" -> col("n_chars"))))
    assertSameNonEmpty(pq(docs, "datasheet", "datasheet", "--text", "text", "--id", "doc_id",
      "--gopher-min-words", "20", "--gopher-max-words", "500"),
      Datasheet.perSource(in, col("text"), col("doc_id"), col("source"), col("lang"), minWords = 20, maxWords = 500))

    val nbKept = pq(docs, "nbkeep", "nb-classify", "--text", "text", "--id", "doc_id", "--label", "lang",
      "--emit", "keep")
    assertSameNonEmpty(nbKept, Corpus(in, col("text"), col("doc_id")).nbLabelFilter(col("lang")).df)

    save("dsir_target", in.filter(col("lang") === "en"))
    val dsir = pq(docs, "dsirkeep", "dsir", "--target", p("dsir_target"), "--text", "text", "--id", "doc_id",
      "--k", "10", "--buckets", "128")
    assertSame(dsir, Corpus(in, col("text"), col("doc_id"))
      .dsirSelect(load(p("dsir_target")), col("text"), col("doc_id"), k = 10, buckets = 128).df)
    assert(dsir.count() === 10L)

    val alloc = pq(docs, "unimax", "unimax", "--group", "lang", "--text", "text")
    val totalTokens = in.agg(sum(graft.text.TextAnalysis.tokenCount(col("text")))).as[Long].head()
    assert(alloc.agg(sum("alloc")).as[Long].head() === totalTokens * 8 / 5)
    assert(alloc.count() === 5L)
    val libAlloc = graft.text.UniMax.allocateRelative(in, col("lang"), col("text"), 8L, 5L, 2000L)
    assertSame(alloc, libAlloc)
    assertSameNonEmpty(pq(docs, "unimax_copies", "unimax", "--group", "lang", "--text", "text", "--id", "doc_id",
      "--emit", "copies"),
      graft.text.UniMax.materializeCopies(in, col("lang"), col("text"), col("doc_id"), libAlloc))
  }

  test("corpus: the full chain, the rule batteries, and the drop ledger") {
    val in = dd
    val out = pq(docs, "corpus", "corpus", "--text", "text", "--id", "doc_id",
      "--min-tokens", "30", "--near", "minhash-best", "--lm-rare-max", "100", "--lm-max-rare-ratio", "0.9",
      "--decontam", bench, "--source-cap", "10", "--temperature", "source", "--split", "90,5")
    assertSameNonEmpty(out, Corpus(in, col("text"), col("doc_id"))
      .qualityFilter(30).exactDedup().nearDedupKeepBest().lmQualityFilter(100L, 0.9)
      .decontaminate(load(bench), col("text"), col("doc_id")).capPerSource(col("source"), 10)
      .temperatureSample(col("source")).splitAssign(90, 5).df)
    assert(out.select("split").distinct().count() >= 2)

    val ruled = pq(docs, "corpus_rules", "corpus", "--text", "text", "--id", "doc_id",
      "--rules", "gopher,repetition", "--gopher-min-words", "20", "--gopher-max-words", "500",
      "--dedup", "none", "--near", "none")
    assertSameNonEmpty(ruled, Corpus(in, col("text"), col("doc_id")).gopherQualityFilter(20, 500).repetitionFilter().df)
    assert(ruled.count() < in.count())

    val ledger = pq(docs, "ledger", "corpus", "--text", "text", "--id", "doc_id",
      "--min-tokens", "30", "--near", "minhash", "--source-cap", "10", "--emit", "ledger")
    val audited = Corpus(in, col("text"), col("doc_id")).audited
      .qualityFilter(30).exactDedup().nearDedup().capPerSource(col("source"), 10)
    assertSameNonEmpty(ledger.select("doc_id", "stage_idx", "stage"), audited.dropLedger)
    assert(ledger.count() + audited.df.count() === in.count())
  }

  test("analysis verbs over documents") {
    import graft.text.{Search, TextAnalysis}
    val in = dd
    assertSameNonEmpty(pq(docs, "phrases", "phrase-search", "--text", "text", "--id", "doc_id", "--n", "2", "--top", "3"),
      Search.phraseOccurrences(in, col("text"), col("doc_id"), Search.topPhrases(in, col("text"), n = 2, k = 3),
        col("phrase"), col("phrase")))
    assertSameNonEmpty(pq(docs, "kmv", "kmv-overlap", "--text", "text", "--group", "source", "--k", "16"),
      graft.sketch.Sketches.kmvOverlapReport(in, col("source"), col("text"), 16))
    assertSameNonEmpty(pq(docs, "qnorm", "quantile-norm", "--group", "source", "--score", "n_chars", "--id", "doc_id"),
      in.quantileNormalize(col("source"), col("n_chars"), col("doc_id")))
    val day = "date_add(DATE '2024-01-01', CAST(doc_id % 40 AS INT))"
    assertSameNonEmpty(pq(docs, "trending", "trending", "--key", "source", "--day", day),
      graft.operators.Timeseries.TimeseriesOps(in).decayedCounts(col("source"), expr(day)))
    assertSameNonEmpty(pq(docs, "skew", "skew", "--group", "source", "--key", "lang"),
      graft.sketch.Sketches.amsF2(in, col("source"), col("lang")))
    val kw = pq(docs, "keywords", "keywords", "--text", "text", "--top", "10")
    assertSame(kw, TextAnalysis.textRank(in, col("text"), topK = 10))
    assert(kw.count() === 10L)
    assertSameNonEmpty(pq(docs, "balancerep", "balance", "--group", "source", "--value", "n_chars"),
      in.giniByGroup(Seq(col("source")), col("n_chars")))
    assertSameNonEmpty(pq(docs, "heavykeys", "heavy-keys", "--group", "lang", "--key", "xxhash64(source)",
      "--num", "50", "--den", "1000"),
      graft.sketch.Sketches.heavyHittersByGroup(in, col("lang"), expr("xxhash64(source)"), 50, 1000))
    val bm = pq(docs, "bm25", "bm25", "--text", "text", "--id", "doc_id", "--terms", "dup,spark,merge", "--top", "20")
    assertSame(bm, Search.bm25Rank(in, col("text"), col("doc_id"), Seq("dup", "spark", "merge"), 20))
    assert(bm.count() === 20L)
    assertSameNonEmpty(pq(docs, "auc", "auc", "--group", "source", "--score", "n_chars", "--positive", "lang = 'en'"),
      graft.quality.Eval.aucExact(in, col("source"), col("n_chars"), expr("lang = 'en'")))
    assertSameNonEmpty(pq(docs, "keyness", "keyness", "--text", "text", "--group", "lang", "--top", "5"),
      TextAnalysis.keyness(in, col("text"), col("lang"), topK = 5))
    assertSameNonEmpty(pq(docs, "ctfidf", "ctfidf", "--text", "text", "--group", "lang", "--top", "4"),
      TextAnalysis.ctfidfTopTerms(in, col("text"), col("lang"), topK = 4))
    assertSameNonEmpty(pq(docs, "mi", "mi", "--x", "lang", "--y", "source"),
      in.mutualInformation(col("lang"), col("source")))
    val words = "size(split(trim(text), '\\\\s+'))"
    assertSameNonEmpty(pq(docs, "spearman", "spearman", "--group", "lang", "--x", "n_chars", "--y", words),
      in.spearman(Seq(col("lang")), col("n_chars"), expr(words)))
    assertSameNonEmpty(pq(docs, "hhi", "hhi", "--group", "lang", "--key", "source"),
      in.concentration(col("lang"), col("source")))
    assertSameNonEmpty(pq(docs, "distinctn", "distinct-n", "--text", "text", "--group", "source", "--ns", "1,3"),
      TextAnalysis.distinctN(in, col("text"), col("source"), Seq(1, 3)))
    assertSameNonEmpty(pq(docs, "klsource", "kl-source", "--text", "text", "--group", "source"),
      TextAnalysis.sourceKl(in, col("text"), col("source")))
    assertSameNonEmpty(pq(docs, "readability", "readability", "--text", "text", "--id", "doc_id"),
      TextAnalysis.readability(in, col("text"), col("doc_id")))
    val card = "concat('x 4', lpad(cast(doc_id as string), 14, '0'), '1 y')"
    assertSameNonEmpty(pq(docs, "luhn", "luhn", "--text", card, "--id", "doc_id"),
      graft.text.TextPrep.luhnScreen(in, expr(card), col("doc_id")))
  }

  test("drift: profile once, report a drop against the stored profile") {
    val in = dd
    save("drift_ref", in.filter(expr("doc_id % 3 <> 0")))
    pq(p("drift_ref"), "drift_profile", "drift", "--mode", "profile", "--bucket", "n_chars div 64")
    assertSameNonEmpty(pq(docs, "drift_report", "drift", "--mode", "report", "--profile", p("drift_profile"),
      "--bucket", "n_chars div 64"),
      graft.operators.TableDiff.distributionDrift(in.filter(expr("doc_id % 3 <> 0")), in,
        expr("n_chars div 64"), expr("n_chars div 64")))
  }

  test("diff: snapshot lifecycle rows and stats") {
    val in = dd
    save("docs_old", in.filter(col("doc_id") % 5 =!= 0).withColumn("text",
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(" OLD"))).otherwise(col("text"))))
    val byStatus = pq(docs, "diff", "diff", "--old", p("docs_old"), "--key", "doc_id", "--content", "text",
      "--key-name", "doc_id").groupBy("status").count().as[(String, Long)].collect().toMap
    assert(byStatus("added") === in.filter(col("doc_id") % 5 === 0).count())
    assert(byStatus("changed") === in.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0).count())
    assert(!byStatus.contains("removed"))
    val stats = pq(docs, "diffstats", "diff", "--old", p("docs_old"), "--key", "doc_id", "--content", "text",
      "--emit", "stats").as[(String, Long)].collect().toMap
    assert(stats === byStatus.filter(_._2 > 0))
  }

  test("ledger verbs: stats-ledger, bloom-ledger, kmv-ledger, cluster-ledger") {
    import graft.sketch.KmvLedger
    val in = dd
    // two drops, the second retried: each counted once, 2 drops per group
    for ((drop, key) <- Seq("d0" -> "doc_id", "d1" -> "doc_id || '_b'", "d1" -> "doc_id || '_b'"))
      cli("-i", docs, "-f", "parquet", "stats-ledger", "--mode", "append", "--ledger", p("sledger"),
        "--drop-id", drop, "--group", "source", "--key", key, "--text", "text")
    val stats = pq(p("sledger"), "sstats", "stats-ledger", "--mode", "rollup")
    assert(stats.agg(sum("n_docs")).as[Long].head() === 2 * in.count())
    assert(stats.filter(col("n_drops") =!= 2).count() === 0L)

    save("bl_h1", in.filter(expr("doc_id % 3 = 1")))
    save("bl_h2", in.filter(expr("doc_id % 3 = 2")))
    save("bl_history", in.filter(expr("doc_id % 3 <> 0")))
    for (h <- Seq("h1", "h2", "h2")) { // the h2 retry overwrites, never duplicates
      cli("-i", p(s"bl_$h"), "-f", "parquet", "bloom-ledger", "--mode", "append", "--ledger", p("bledger"),
        "--drop-id", h, "--key", "md5(text)", "--bits", "65536")
      cli("-i", p(s"bl_$h"), "-f", "parquet", "kmv-ledger", "--mode", "append", "--ledger", p("kledger"),
        "--drop-id", h, "--text", "text", "--k", "64")
    }
    val novel = pq(docs, "bl_novel", "bloom-ledger", "--mode", "novel", "--ledger", p("bledger"),
      "--corpus", p("bl_history"), "--key", "md5(text)")
    assertSameNonEmpty(novel.select("doc_id"), in.join(load(p("bl_history")).select(md5(col("text")).as("__fp"))
      .distinct(), md5(col("text")) === col("__fp"), "left_anti").select("doc_id"))
    assert(spark.read.parquet(p("bledger")).count() === 2L)
    val bloom = graft.sketch.BloomLedger.mergedFrom(spark, p("bledger"))
    val screened = pq(docs, "bl_screen", "bloom-ledger", "--mode", "screen", "--ledger", p("bledger"),
      "--key", "md5(text)")
    assertSameNonEmpty(screened, graft.sketch.BloomLedger.screen(in, expr("md5(text)"), bloom))

    val overlap = pq(docs, "kmv_report", "kmv-ledger", "--mode", "overlap", "--ledger", p("kledger"), "--text", "text")
    assertSameNonEmpty(overlap, KmvLedger.overlapVsHistory(in, col("text"),
      KmvLedger.merged(KmvLedger.dropSummary(in.filter(expr("doc_id % 3 <> 0")), "all", col("text"), 64))))
    assert(spark.read.parquet(p("kledger")).count() === 2L)

    // two appends (split by parity) equal the full-graph clustering
    pq(p("pairs"), "clpairs_even", "partition.filter", "--expr", "(doc_a + doc_b) % 2 = 0")
    pq(p("pairs"), "clpairs_odd", "partition.filter", "--expr", "(doc_a + doc_b) % 2 <> 0")
    val clroot = p("cluster_ledger")
    for (part <- Seq("even", "odd"))
      pq(p(s"clpairs_$part"), s"clstats_$part", "cluster-ledger", "--mode", "append", "--ledger", clroot,
        "--a", "doc_a", "--b", "doc_b")
    pq(docs, "clvac", "cluster-ledger", "--mode", "vacuum", "--ledger", clroot)
    val labels = pq(docs, "cllabels", "cluster-ledger", "--mode", "labels", "--ledger", clroot)
    assertSameNonEmpty(labels, graft.dedup.Components.connectedComponents(pairs, "doc_a", "doc_b"))
  }

  test("vector verbs: semdedup, centroid-classify, triplets, embed → knn, bpe") {
    import graft.similarity.{CellCap, SemDedup, Similarity}
    val vecs = load(emb)
    val kept = pq(emb, "semdedup", "semdedup", "--vec", "embedding", "--id", "vec_id",
      "--centroids", "8", "--iters", "1", "--tau", "0.9")
    val verdicts = SemDedup.semDedup(Similarity.prepareQuantized(vecs, col("embedding"), col("vec_id")),
      8, 1, 0.9, CellCap.Auto)
    assertSame(kept, vecs.join(verdicts.filter(!col("is_dup")).select(col("vec_id").as("__keep")),
      col("vec_id") === col("__keep")).drop("__keep"))
    assert(kept.count() > 0 && kept.count() < vecs.count())

    val conf = pq(emb, "conf", "centroid-classify", "--vec", "embedding", "--id", "vec_id", "--label", "label",
      "--emit", "confusion")
    assert(conf.agg(sum("n")).as[Long].head() === vecs.count())
    val labelled = Similarity.prepareQuantized(vecs, col("embedding"), col("vec_id"), col("label"))
    assertSameNonEmpty(pq(emb, "triplets", "triplets", "--vec", "embedding", "--id", "vec_id", "--label", "label",
      "--anchor-mod", "25", "--k", "3"),
      Similarity.mineTriplets(labelled, labelled.filter(expr("vec_id % 25 = 0")), 3))

    // lexical neighbours through the persisted integer-vector frame
    val in = dd
    val hemb = pq(docs, "hemb", "embed", "--text", "text", "--id", "doc_id", "--dim", "32")
    val libEmb = graft.text.HashEmbed.embedDocuments(in, col("text"), col("doc_id"), 32)
    assertSame(hemb, libEmb)
    save("hemb_q", hemb.filter(expr("vec_id % 25 = 0")), 1)
    val knn = pq(p("hemb"), "hknn", "knn", "--queries", p("hemb_q"), "--k", "2", "--prepared", "true")
    assertSameNonEmpty(knn.select("q_id", "neighbor_id", "rank"),
      Similarity.cosineTopK(libEmb, libEmb.filter(expr("vec_id % 25 = 0")), 2).select("q_id", "neighbor_id", "rank"))

    // train a merge table, then tokenize from the stored artifact
    val merges = pq(docs, "bpe_merges", "bpe", "--mode", "train", "--text", "text", "--merges", "8")
    assert(merges.count() === 8L)
    val types = graft.text.Bpe.wordTypes(in, col("text"), 100000)
    assertSameNonEmpty(pq(docs, "bpe_tokens", "bpe", "--mode", "tokens", "--text", "text", "--id", "doc_id",
      "--merges-table", p("bpe_merges")),
      graft.text.Bpe.tokenCounts(in, col("text"), Seq(col("doc_id")),
        graft.text.Bpe.symbolize(types, graft.text.Bpe.trainMerges(types, 8))))
  }

  test("event-log verbs: scd2, coactive, trend, winsorize, attribution, survival, kcore, benford, ...") {
    import graft.operators.{TemporalJoins, Timeseries}
    val e = ev
    Files.writeString(Paths.get(p("changes.jsonl")),
      """{"user_id": 1, "us": 100, "cid": 1, "tier": "bronze"}
        |{"user_id": 1, "us": 200, "cid": 2, "tier": "silver"}
        |{"user_id": 2, "us": 150, "cid": 3, "tier": "bronze"}
        |""".stripMargin)
    cli("-i", p("changes.jsonl"), "-f", "json", "--schema", "user_id BIGINT, us BIGINT, cid BIGINT, tier STRING",
      "scd2", "--key", "user_id", "--ts", "us", "--order", "us, cid", "--outfile", p("scd2"))
    val scd = PartitionedFiles.readJsonl(spark, p("scd2"))
    assert(scd.count() === 3L)
    assert(scd.filter(col("is_current")).count() === 2L)
    assert(scd.filter(col("valid_to_us") === 200L).count() === 1L)

    for (blocks <- Seq("4", "1"))
      assertSameNonEmpty(pq(events, s"coactive$blocks", "coactive", "--user", "user_id", "--type", "event_type",
        "--ts", "cast(ts as timestamp)", "--blocks", blocks, "--top", "25"),
        TemporalJoins.coActivePairs(e, col("user_id"), col("event_type"), col("ts").cast("timestamp"),
          bucketUs = 10800000000L, blocks = blocks.toInt, topK = 25))
    val hour = s"$evMicros div 3600000000"
    assertSameNonEmpty(pq(events, "trendrep", "trend", "--group", "event_type", "--x", hour, "--y", evValue),
      e.groupOls(Seq(col("event_type")), expr(hour), expr(evValue)))
    assertSameNonEmpty(pq(events, "winsor", "winsorize", "--group", "event_type", "--value", evValue,
      "--lo", "50", "--hi", "950"), e.winsorize(col("event_type"), expr(evValue), 50, 950))
    assertSameNonEmpty(pq(events, "attrib", "attribution", "--user", "user_id", "--type", "event_type",
      "--ts-us", evMicros, "--id", "event_id", "--conv", "purchase", "--touch", "click,view,signup",
      "--window-hours", "24", "--bucket-hours", "24"),
      TemporalJoins.attribution(e, col("user_id"), col("event_type"), expr(evMicros), col("event_id"),
        "purchase", Seq("click", "view", "signup"), 86400000000L, 86400000000L))
    assertSameNonEmpty(pq(events, "survival", "survival", "--id", "user_id", "--ts-us", evMicros,
      "--censor-hours", "12", "--bucket-hours", "6"),
      Timeseries.kaplanMeier(e, col("user_id"), expr(evMicros), 43200000000L, 21600000000L))
    val (src, dst) = ("user_id * 2", "pmod(xxhash64(event_type), 1000000) * 2 + 1")
    assertSame(pq(events, "kcore", "kcore", "--src", src, "--dst", dst, "--k", "3", "--rounds", "8"),
      graft.operators.GraphOps.kCore(e.select(expr(src).as("src"), expr(dst).as("dst")), 3L, 8))
    val benford = pq(events, "benford", "benford", "--value", evValue)
    assertSame(benford, graft.quality.Validate.benfordAudit(e, expr(evValue)))
    assert(benford.count() === 9L)
    assertSameNonEmpty(pq(events, "trimmed", "trimmed-mean", "--group", "event_type", "--value", evValue,
      "--lo", "100", "--hi", "900"), e.trimmedMean(col("event_type"), expr(evValue), 100, 900))
    assertSameNonEmpty(pq(events, "tenc", "target-encode", "--key", "event_type", "--target", evValue),
      e.targetEncodeLoo(col("event_type"), expr(evValue)))
    assertSameNonEmpty(pq(events, "convci", "conversion-ci", "--arm", "pmod(user_id, 2)", "--entity", "user_id",
      "--converted", "event_type = 'purchase'"),
      graft.quality.Validate.conversionReport(e, expr("pmod(user_id, 2)"), col("user_id"),
        expr("event_type = 'purchase'")))
    assertSameNonEmpty(pq(events, "twap", "twap", "--key", "user_id", "--ts-us", evMicros, "--value", evValue),
      Timeseries.timeWeightedAvg(e, col("user_id"), expr(evMicros), expr(evValue)))
  }

  test("zonemap: numeric and string range reads equal the plain filter") {
    val in = dd
    val zm = p("zm/docs")
    cli("-i", docs, "-f", "parquet", "zonemap", "--action", "write", "--out", zm, "--key", "doc_id", "--parts", "6")
    assertSameNonEmpty(pq(docs, "zmread", "zonemap", "--action", "read", "--out", zm,
      "--key", "doc_id", "--lo", "100", "--hi", "199"),
      in.filter(col("doc_id") >= 100 && col("doc_id") <= 199))
    cli("-i", docs, "-f", "parquet", "zonemap", "--action", "build", "--out", zm, "--key", "source")
    assertSameNonEmpty(pq(docs, "zmreadstr", "zonemap", "--action", "read", "--out", zm,
      "--key", "source", "--lo", "src10", "--hi", "src15"),
      in.filter(col("source") >= "src10" && col("source") <= "src15"))
  }

  test("promote: publish, refused rebuild, rollback, history, time travel, vacuum") {
    val in = dd
    val proot = p("versioned")
    val first = pq(docs, "prom1", "promote", "--root", proot, "--not-null", "doc_id,text", "--unique", "doc_id")
    assert(first.filter(col("name") === "promoted").select("value").as[String].head() === "true")
    // a rebuild that silently dropped >95% of the corpus is refused by
    // the diff gate, leaving v1 live
    val sliver = pq(docs, "sliver", "partition.filter", "--expr", "doc_id % 20 = 0")
    val refused = intercept[RuntimeException](pq(p("sliver"), "prom_refused", "promote", "--root", proot,
      "--unique", "doc_id", "--diff-key", "doc_id", "--diff-content", "text", "--max-changed-pm", "50"))
    assert(refused.getMessage.contains("promotion refused"))
    assert(!refused.isInstanceOf[Cli.CliError])
    val cur = pq(docs, "prom_cur", "promote", "--root", proot, "--action", "current")
    assert(cur.filter(col("name") === "version").select("value").as[String].head() === "1")
    assertSame(Versioned.read(spark, proot), in)

    // publish the sliver as v2, roll back to v1 by number (publishes v3)
    pq(p("sliver"), "prom2", "promote", "--root", proot, "--unique", "doc_id")
    pq(docs, "prom_rb", "promote", "--root", proot, "--action", "rollback", "--to-version", "1")
    val hist = pq(docs, "prom_hist", "promote", "--root", proot, "--action", "history")
    assert(hist.select("version").as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    assertSame(Versioned.read(spark, proot), in)
    assertSame(pq(docs, "prom_v2", "promote", "--root", proot, "--action", "read-version", "--to-version", "2"), sliver)
    // v2's publish stamp from the history output resolves back to v2
    val t2 = hist.filter(col("version") === 2).select("ts").as[Long].head()
    assert(t2 > 0)
    cli("-f", "parquet", "promote", "--root", proot, "--action", "read-asof", "--ts", t2.toString,
      "--outfile", p("prom_asof"))
    assertSame(load(p("prom_asof")), sliver)
    pq(docs, "prom_vac", "promote", "--root", proot, "--action", "vacuum", "--retain", "2")
    assertSame(Versioned.read(spark, proot), in)

    val unknown = intercept[Cli.CliError](
      cli("-f", "parquet", "promote", "--root", proot, "--action", "publish-everything"))
    assert(unknown.getMessage === "unknown --action: publish-everything")
  }

  test("warehouse: bucketed publish, merge, patch, fold, diff-versions, compact, zoned read-range") {
    val in = dd
    val wroot = p("bucketed")
    pq(docs, "wm1", "promote", "--root", wroot, "--action", "promote-bucketed",
      "--key", "doc_id", "--buckets", "16", "--unique", "doc_id")
    // one drop upserts 2 keys, deletes 1 and inserts 1
    save("wdrop", Seq(
      (0L, Option("updated zero"), Option("en"), Option("s0"), Option(12L), false),
      (1L, Option("updated one"), Option("en"), Option("s0"), Option(11L), false),
      (2L, Option.empty[String], Option.empty[String], Option.empty[String], Option.empty[Long], true),
      (900000L, Option("brand new doc"), Option("en"), Option("drop"), Option(13L), false))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "del"))
    val rep = pq(p("wdrop"), "wm2", "promote", "--root", wroot, "--action", "merge",
      "--deleted", "del", "--unique", "doc_id", "--max-changed-pm", "500")
    assert(rep.filter(col("name") === "merged").select("value").as[String].head() === "true")
    val diff = pq(p("wdrop"), "wdiff", "promote", "--root", wroot, "--action", "diff-versions",
      "--from-version", "1", "--to-version", "2", "--diff-key", "doc_id", "--diff-content", "text")
      .as[(Long, String)].collect().toMap
    assert(diff(0L) === "changed" && diff(2L) === "removed" && diff(900000L) === "added")
    pq(p("wdrop"), "wcompact", "promote", "--root", wroot, "--action", "compact", "--unique", "doc_id")
    val live = Versioned.read(spark, wroot)
    assert(live.count() === in.count()) // -1 delete, +1 insert
    assert(live.filter(col("doc_id") === 0L).select("text").as[String].head() === "updated zero")
    assert(live.filter(col("doc_id") === 2L).count() === 0L)
    assert(live.filter(col("doc_id") === 900000L).count() === 1L)
    assertSame(Versioned.readVersion(spark, wroot, 1), in)
    assert(Versioned.currentManifest(wroot).flatMap(_.buckets).get.owner.filter(_.nonEmpty).distinct.size === 1)

    // zone-mapped publish, merge through --retry, then a zone-pruned
    // range read equal to the filtered live read
    val zroot = p("zoned_bucketed")
    pq(docs, "wz1", "promote", "--root", zroot, "--action", "promote-bucketed",
      "--key", "doc_id", "--buckets", "8", "--zones", "doc_id", "--unique", "doc_id")
    pq(p("wdrop"), "wz2", "promote", "--root", zroot, "--action", "merge",
      "--deleted", "del", "--retry", "3", "--max-changed-pm", "500")
    val ranged = pq(p("wdrop"), "wzrange", "promote", "--root", zroot, "--action", "read-range",
      "--range-col", "doc_id", "--lo", "0", "--hi", "10")
    assert(Versioned.currentManifest(zroot).flatMap(_.buckets).map(_.zones) === Some(Seq("doc_id")))
    assertSameNonEmpty(ranged, Versioned.read(spark, zroot).filter(col("doc_id") >= 0L && col("doc_id") <= 10L))
    assert(ranged.filter(col("doc_id") === 0L).select("text").as[String].head() === "updated zero")
    assert(ranged.filter(col("doc_id") === 2L).count() === 0L)

    // merge-on-read: a patch lands as a delta layer, fold-deltas folds it
    save("wpatch", Seq((3L, "patched three", "en", "s0", 13L, false))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "del"))
    val patched = pq(p("wpatch"), "wpatched", "promote", "--root", zroot, "--action", "patch", "--deleted", "del")
      .as[(String, String, String)].collect().map(r => r._2 -> r._3).toMap
    assert(patched("patched") === "true" && patched("delta_layers") === "1", patched)
    val folded = pq(docs, "wfold", "promote", "--root", zroot, "--action", "fold-deltas")
      .as[(String, String, String)].collect().map(r => r._2 -> r._3).toMap
    assert(folded("folded") === "true", folded)
    assert(Versioned.read(spark, zroot).filter(col("doc_id") === 3L).select("text").as[String].head() ===
      "patched three")
    val described = pq(docs, "wdescribe", "promote", "--root", zroot, "--action", "describe")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(described("num_buckets") === "8", described)
  }

  test("warehouse maintenance: maintain, rebucket, zone-clustered merge, tail-feed") {
    val mroot = p("mtable/t")
    require(Versioned.promoteBucketed((1L to 30L).map(j => j -> s"d$j").toDF("doc_id", "text"),
      mroot, "doc_id", 8).promoted)
    for (i <- 1 to 4)
      require(Versioned.merge(Seq((100L + i, s"x$i", false)).toDF("doc_id", "text", "del"),
        mroot, deleted = col("del")).merged)
    // the merge chain trips the owner-spread threshold: one verb
    // compacts and vacuums, reads unchanged
    val rep = pq(docs, "maint", "promote", "--action", "maintain", "--root", mroot,
      "--max-owner-dirs", "2", "--retain", "1").collect().map(r => r.getString(1) -> r.getString(2)).toMap
    def described = Versioned.describe(spark, mroot).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rep("compacted") === "true" && described("owner_directories") === "1")
    assert(Versioned.read(spark, mroot).count() === 34L)
    pq(docs, "rebkt", "promote", "--action", "rebucket", "--root", mroot, "--buckets", "16")
    assert(described("num_buckets") === "16")
    assert(Versioned.read(spark, mroot).count() === 34L)
    assert(Versioned.lookup(spark, mroot, 101L).count() === 1L)

    // staged rows range-cluster on the zone column; the merged read stays exact
    val zcroot = p("zc/t")
    require(Versioned.promoteBucketed((1L to 60L).map(j => j -> s"d$j").toDF("doc_id", "text")
      .repartitionByRange(4, col("doc_id")), zcroot, "doc_id", 4, zoneCols = Seq("doc_id")).promoted)
    save("zcdrop", (1L to 60L).filter(_ % 5 == 0).map(j => (j, s"d$j v2", false)).toDF("doc_id", "text", "del"))
    pq(p("zcdrop"), "zcmerge", "promote", "--action", "merge", "--root", zcroot,
      "--deleted", "del", "--zone-cluster", "true")
    val got = Versioned.read(spark, zcroot).as[(Long, String)].collect().toMap
    assert(got.size === 60 && got(5L) === "d5 v2" && got(7L) === "d7")
    assert(Versioned.readRange(spark, zcroot, "doc_id", 10L, 20L).count() === 11L)

    // the change feed: the first run drains the publish history, a
    // later merge arrives as exactly its own diff
    val froot = p("feed/t")
    require(Versioned.promoteBucketed(Seq(1L -> "a", 2L -> "b").toDF("doc_id", "text"), froot, "doc_id", 4).promoted)
    require(Versioned.merge(Seq((2L, "b v2", false), (3L, "c", false)).toDF("doc_id", "text", "del"),
      froot, deleted = col("del")).merged)
    def feed(out: String) = {
      cli("-f", "parquet", "promote", "--action", "tail-feed", "--root", froot, "--checkpoint", p("feed_ck"),
        "--diff-key", "doc_id", "--diff-content", "text", "--outfile", p(out))
      load(p(out)).select("version", "doc_id", "status").as[(Int, Long, String)].collect().toSet
    }
    assert(feed("feed1") === Set((1, 1L, "added"), (1, 2L, "added"),
      (2, 1L, "unchanged"), (2, 2L, "changed"), (2, 3L, "added")))
    require(Versioned.merge(Seq((1L, null.asInstanceOf[String], true)).toDF("doc_id", "text", "del"),
      froot, deleted = col("del")).merged)
    assert(feed("feed2") === Set((3, 1L, "removed"), (3, 2L, "unchanged"), (3, 3L, "unchanged")))
  }

  test("index-compact and index-maintain over a catalog postings index") {
    import graft.text.SearchIndex
    val base = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta")).toDF("doc_id", "text")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS cli_idx LOCATION '${p("wh_idx")}'")
    SearchIndex.create(base, col("text"), col("doc_id"), "cli_idx.posts", nBuckets = 2)
    SearchIndex.append(Seq((3L, "alpha beta beta")).toDF("doc_id", "text"), col("text"), col("doc_id"),
      "cli_idx.posts", dropId = "d0")
    cli("-f", "parquet", "index-compact", "--kind", "postings", "--table", "cli_idx.posts",
      "--outfile", p("idxcompact"))
    val st = load(p("idxcompact")).as[(String, String, Long)].collect()
    assert(st.contains(("postings", "partitions_after", 1L)) && st.contains(("postings", "partitions_before", 2L)),
      st.mkString(","))

    spark.sql(s"CREATE DATABASE IF NOT EXISTS cli_idxm LOCATION '${p("wh_idxm")}'")
    SearchIndex.create(base, col("text"), col("doc_id"), "cli_idxm.posts", nBuckets = 2)
    for (i <- 0 until 3)
      SearchIndex.append(Seq((10L + i, s"alpha beta run$i")).toDF("doc_id", "text"),
        col("text"), col("doc_id"), "cli_idxm.posts", dropId = s"d$i")
    cli("-f", "parquet", "index-maintain", "--kind", "postings", "--table", "cli_idxm.posts",
      "--max-partitions", "2", "--keep-previous", "false", "--outfile", p("idxmaint"))
    val m = load(p("idxmaint")).as[(String, String, String)].collect().map(r => (r._2, r._3))
    assert(m.contains(("partitions_after", "1")) && m.contains(("compacted", "true")), m.mkString(","))
    assert(m.exists { case (k, v) => k == "vacuumed" && v.contains("__g00001") }, m.mkString(","))
  }

  test("usage errors raise CliError with the CLI's message, never a raw parse or match error") {
    val in = p("usage_in")
    PartitionedFiles.writeJsonl(Seq((1L, 10L)).toDF("id", "v"), in, 1)
    val cases = Seq(
      "malformed number" -> (Seq("-i", in, "partition.head", "--n", "abc", "--order", "id", "--outfile", p("x")),
        "partition.head: --n expects an integer, got 'abc'"),
      "missing required option" -> (Seq("-i", in, "partition.filter", "--outfile", p("x")),
        "partition.filter: missing --expr"),
      "unknown command" -> (Seq("-i", in, "no-such-verb"), "unknown command: no-such-verb"),
      "unknown format" -> (Seq("-i", in, "-f", "xml", "partition.count"), "unknown format: xml"))
    for ((name, (args, msg)) <- cases) {
      val e = intercept[Cli.CliError](Cli.run(spark, args.toArray))
      assert(e.getMessage.startsWith(msg), s"$name: ${e.getMessage}")
    }
  }

  test("main's handler maps CliError to exit 2 with `graft: <msg>` and lets other failures propagate") {
    val err = new ByteArrayOutputStream()
    val code = Console.withErr(err)(Cli.exitCode(Cli.run(spark, Array("no-such-verb"))))
    assert(code === 2)
    assert(err.toString.startsWith("graft: unknown command: no-such-verb"))
    assert(Cli.exitCode(()) === 0)
    intercept[RuntimeException](Cli.exitCode(sys.error("promotion refused: gate")))
  }

  test("the usage for a missing command lists every verb with its usage line") {
    val msg = intercept[Cli.CliError](Cli.run(spark, Array.empty[String])).getMessage
    assert(msg.startsWith("missing command"))
    val lines = msg.linesIterator.map(_.trim).toSeq
    for ((name, v) <- Cli.verbs)
      assert(lines.exists(l => (l == name || l.startsWith(name + " ")) && l.endsWith(v.usage)), name)
    assert(Seq("tail-feed", "maintain", "rebucket", "describe", "read-asof").forall(Cli.verbs("promote").usage.contains))
  }

  test("every verb in the table ran above") {
    assert(ran.toSet === Cli.verbs.keySet)
  }
}
