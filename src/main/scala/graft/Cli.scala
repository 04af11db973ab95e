package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions.{count, lit, pmod}

import graft.operators.CoreOps._
import graft.sources.{PartitionedFiles, Versioned}

/** Command-line surface mirroring the reference's `python -m shmr`:
  * per-partition and all-partition operators plus the LLM-data
  * pipeline verbs over jsonl/csv/text/parquet/orc files. Where shmr
  * takes Python import paths (`--fn mymod.myfunc`), graft takes SQL
  * expressions (`--expr`, `--aggs`) — declarative, so the whole
  * pipeline plans through Catalyst instead of calling back into an
  * interpreter per record.
  *
  *   graft.Cli -i IN [-f json|csv|text|parquet|orc] [--schema DDL] CMD [args]
  *             [--outfile OUT] [--codec gzip|bzip2]
  *             [--names "part-{auto}"] [--delete-on-empty true]
  *
  * Gzipped/bzip2'd inputs read transparently by extension (as in
  * shmr); `--codec` compresses the output; `--names` renames output
  * files to shmr's literal template (`*`/`{}`/`{auto}` → zero-padded
  * {auto:05d}, `{stem}` keeps the stem) and `--delete-on-empty`
  * drops record-less partitions, both per reference misc.py /
  * partition_writer.py semantics. Side inputs (`--with`, `--bench`,
  * ...) are read in the `-f` format with their own `--<key>-schema`.
  *
  * Each verb is one [[Verb]] in [[verbs]]; the usage printed for a
  * missing or unknown command is generated from that table.
  */
object Cli {

  /** A usage error: a missing, malformed or unknown option, command or
    * format. `main` reports it as `graft: <msg>` and exits 2. */
  final class CliError(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw new CliError(msg)

  /** The items of a comma-separated expression list; commas inside
    * parentheses, brackets or quotes belong to their item. */
  private[graft] def splitList(s: String): Seq[String] = {
    val items = Seq.newBuilder[String]
    var depth = 0
    var quote: Option[Char] = None
    var start = 0
    for (i <- s.indices) (s(i), quote) match {
      case (c, Some(q)) => if (c == q) quote = None
      case ('\'' | '"' | '`', None) => quote = Some(s(i))
      case ('(' | '[', None) => depth += 1
      case (')' | ']', None) => depth -= 1
      case (',', None) if depth == 0 => items += s.substring(start, i).trim; start = i + 1
      case _ =>
    }
    (items += s.substring(start).trim).result()
  }

  private val SortItem = """(?is)(.+?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?""".r

  /** One sort item, `expr [ASC|DESC] [NULLS FIRST|LAST]`, with SQL's
    * defaults: ascending, nulls first when ascending and last when
    * descending. */
  private[graft] def sortItem(item: String): Column = item match {
    case SortItem(e, dir, nulls) =>
      val c = F.expr(e)
      (Option(dir).map(_.toUpperCase), Option(nulls).map(_.toUpperCase)) match {
        case (Some("DESC"), Some("FIRST")) => c.desc_nulls_first
        case (Some("DESC"), _)             => c.desc
        case (_, Some("LAST"))             => c.asc_nulls_last
        case _                             => c.asc
      }
    case other => fail(s"not a sort item: '$other' (use expr [ASC|DESC] [NULLS FIRST|LAST])")
  }

  /** One verb: its one-line usage and its body. */
  final case class Verb(usage: String, body: Ctx => Unit)

  /** One invocation's options, session and the readers/writers over them. */
  final class Ctx private[Cli] (val spark: SparkSession, val cmd: String, opts: Map[String, String]) {
    private def flag(k: String) = if (k == "i") "-i" else s"--$k"

    def fail(msg: String): Nothing = Cli.fail(msg)
    def opt(k: String): Option[String] = opts.get(k)
    def has(k: String): Boolean = opts.contains(k)
    private def missing(k: String): Nothing = fail(s"$cmd: missing ${flag(k)}")
    def req(k: String): String = opts.getOrElse(k, missing(k))
    def str(k: String, default: String): String = opts.getOrElse(k, default)

    private def typed[T](k: String, what: String, p: String => Option[T]): Option[T] =
      opts.get(k).map(v => p(v).getOrElse(fail(s"$cmd: ${flag(k)} expects $what, got '$v'")))
    def intOpt(k: String): Option[Int] = typed(k, "an integer", _.toIntOption)
    def longOpt(k: String): Option[Long] = typed(k, "an integer", _.toLongOption)
    def int(k: String): Int = intOpt(k).getOrElse(missing(k))
    def int(k: String, default: Int): Int = intOpt(k).getOrElse(default)
    def long(k: String): Long = longOpt(k).getOrElse(missing(k))
    def long(k: String, default: Long): Long = longOpt(k).getOrElse(default)
    def double(k: String, default: Double): Double =
      typed(k, "a number", _.toDoubleOption).getOrElse(default)
    def bool(k: String, default: Boolean = false): Boolean =
      typed(k, "true or false", _.toBooleanOption).getOrElse(default)
    def ints(k: String, default: String): Seq[Int] = {
      val v = str(k, default)
      v.split(",").toSeq.map(_.trim.toIntOption
        .getOrElse(fail(s"$cmd: ${flag(k)} expects comma-separated integers, got '$v'")))
    }
    /** `--k` (`default` when absent) must be one of `allowed`. */
    def oneOf(k: String, default: String)(allowed: String*): String = {
      val v = str(k, default)
      if (!allowed.contains(v)) fail(s"$cmd: ${flag(k)} must be ${allowed.mkString("|")}, got: $v")
      v
    }
    def oneOf(k: String)(allowed: String*): String = oneOf(k, req(k))(allowed: _*)

    def col(k: String): Column = F.col(req(k))
    def expr(k: String): Column = F.expr(req(k))
    def expr(k: String, default: String): Column = F.expr(str(k, default))
    def exprList(k: String): Seq[Column] = Cli.splitList(req(k)).map(F.expr)
    /** `--k "expr [ASC|DESC] [NULLS FIRST|LAST], ..."` as sort columns. */
    def sortList(k: String): Seq[Column] = Cli.splitList(req(k)).map(Cli.sortItem)

    // --not-null "a,b" / --unique "a,b" / --check "pred1;pred2" →
    // Validate.Check suite (shared by the validate and promote verbs)
    def checks: Seq[graft.quality.Validate.Check] = {
      import graft.quality.Validate._
      val cs = Seq.newBuilder[Check]
      opt("not-null").foreach(_.split(",").map(_.trim).filter(_.nonEmpty)
        .foreach(c => cs += NotNull(s"not_null_$c", F.col(c))))
      opt("unique").foreach { s =>
        val u = s.split(",").map(_.trim).filter(_.nonEmpty)
        cs += Unique("unique_" + u.mkString("_"), u.map(F.col).toSeq)
      }
      opt("check").foreach(_.split(";").map(_.trim).filter(_.nonEmpty).zipWithIndex
        .foreach { case (e, i) => cs += Satisfies(s"check_$i", F.expr(e)) })
      cs.result()
    }

    val fmt: String = str("f", "json")

    private def read(path: String, schema: Option[String]): DataFrame = fmt match {
      case "json"    => PartitionedFiles.readJsonl(spark, path, schema)
      case "csv"     => PartitionedFiles.readCsv(spark, path, header = true, schema)
      case "text"    => PartitionedFiles.readText(spark, path)
      case "parquet" => PartitionedFiles.readParquet(spark, path)
      case "orc"     => PartitionedFiles.readOrc(spark, path)
      case other     => fail(s"unknown format: $other (use json|csv|text|parquet|orc)")
    }

    /** The `-i` input (resolved per call: catalog-table commands and
      * the root-addressed promote actions take no `-i`). */
    def input: DataFrame = read(req("i"), opt("schema"))

    /** A second input named by `--key`, in the `-f` format. Text lines
      * carry no columns to key or join on, so text is refused. */
    def side(key: String): DataFrame =
      if (fmt == "text") fail(s"$cmd: --$key unsupported for format: text")
      else read(req(key), opt(s"$key-schema"))

    def parquet(key: String): DataFrame = PartitionedFiles.readParquet(spark, req(key))

    def write(df: DataFrame, parts: Int = 1): Unit = {
      val out = req("outfile")
      // shmr reads/writes .gz/.bz2 transparently by extension; Spark
      // reads them transparently too, and writes via --codec
      val codec = opt("codec")
      fmt match {
        case "json"    => PartitionedFiles.writeJsonl(df, out, parts, codec)
        case "csv"     => PartitionedFiles.writeCsv(df, out, parts, codec = codec)
        case "text"    => PartitionedFiles.writeText(df, out, parts, codec)
        case "parquet" => PartitionedFiles.writeParquet(df, out, parts, codec)
        case "orc"     => PartitionedFiles.writeOrc(df, out, parts, codec)
        case other     => fail(s"unknown format: $other (use json|csv|text|parquet|orc)")
      }
      // shmr-literal output layout: --names applies the {auto:05d} /
      // {stem} file-name template (misc.py:24-47); --delete-on-empty
      // drops record-less partitions (partition_writer.py) first
      val deleteEmpty = bool("delete-on-empty")
      if (has("names") || deleteEmpty)
        PartitionedFiles.shmrLayout(out, str("names", "part-{auto}"), deleteEmpty)
    }

    /** Writes `(kind, name, value)` report rows. */
    def report(rows: Seq[(String, String, String)]): Unit = {
      import spark.implicits._
      write(rows.toDF("kind", "name", "value"))
    }
  }

  /** Runs one verb on the caller's session; never stops it, never exits.
    * Usage errors raise [[CliError]]. */
  def run(spark: SparkSession, args: Array[String]): Unit = invocation(args)(spark)

  def main(args: Array[String]): Unit = {
    val code = exitCode {
      val go = invocation(args) // usage errors surface before a session starts
      val spark = GraftSession.getOrCreate("graft-cli")
      try go(spark) finally spark.stop()
    }
    if (code != 0) sys.exit(code)
  }

  /** `main`'s handler: 0, or 2 after printing a [[CliError]]. Anything
    * else (a refused promotion, a failed job) propagates. */
  private[graft] def exitCode(body: => Unit): Int =
    try { body; 0 }
    catch { case e: CliError => Console.err.println(s"graft: ${e.getMessage}"); 2 }

  private def invocation(args: Array[String]): SparkSession => Unit = {
    val (opts, cmds) = parse(args.toList)
    val cmd = cmds.headOption.getOrElse(fail(s"missing command\n$usage"))
    val verb = verbs.getOrElse(cmd, fail(s"unknown command: $cmd\n$usage"))
    spark => verb.body(new Ctx(spark, cmd, opts))
  }

  /** Usage text generated from [[verbs]]. */
  private def usage: String = {
    val w = verbs.keys.map(_.length).max
    ("usage: graft.Cli -i IN [-f json|csv|text|parquet|orc] [--schema DDL] CMD [args]" +:
      "                 [--outfile OUT] [--codec gzip|bzip2] [--names TEMPLATE] [--delete-on-empty true]" +:
      "commands:" +:
      verbs.toSeq.map { case (n, v) => s"  ${n.padTo(w, ' ')}  ${v.usage}" }).mkString("\n")
  }

  /** Tiny arg parser: `-x v` / `--long v` → opts; bare words → cmds. */
  private def parse(args: List[String]): (Map[String, String], List[String]) = {
    def loop(rest: List[String], opts: Map[String, String], cmds: List[String]): (Map[String, String], List[String]) =
      rest match {
        case Nil => (opts, cmds.reverse)
        case k :: v :: t if k.startsWith("-") => loop(t, opts + (k.dropWhile(_ == '-') -> v), cmds)
        case k :: Nil if k.startsWith("-") => fail(s"option $k needs a value")
        case w :: t => loop(t, opts, w :: cmds)
      }
    loop(args, Map.empty, Nil)
  }

  private val TextId = "--text COL --id COL"
  private val Kinds = Seq("postings", "bm25", "minhash", "ivf", "pq")

  private def textId(c: Ctx): (Column, Column) = (c.expr("text"), c.expr("id"))

  private def keepById(c: Ctx, df: DataFrame, id: Column, keep: DataFrame): Unit =
    c.write(df.join(keep.toDF("__keep"), id === F.col("__keep")).drop("__keep"))

  private def confusion(preds: DataFrame): DataFrame =
    preds.groupBy(F.col("true_label"), F.col("pred_label")).agg(count(lit(1)).as("n"))

  // the bound FAMILY of a zone-pruned range read comes from the stored
  // manifest's schema, never from the literal's shape: a string column
  // of zero-padded ids stores binary-ordered bounds that numeric
  // comparison would mis-prune. --bound-type long|string overrides.
  private def rangeRead(c: Ctx, family: Option[String])(
      asLong: (Long, Long) => DataFrame, asString: (String, String) => DataFrame): Unit = {
    val (lo, hi) = (c.req("lo"), c.req("hi"))
    c.write(c.opt("bound-type").orElse(family) match {
      case Some("long") => asLong(c.long("lo"), c.long("hi"))
      case Some("string") => asString(lo, hi)
      case Some(other) => c.fail(s"--bound-type must be long or string, got $other")
      case None => // no zone manifest: residual-only scan, either family is exact
        (lo.toLongOption, hi.toLongOption) match {
          case (Some(l), Some(h)) => asLong(l, h)
          case _ => asString(lo, hi)
        }
    })
  }

  private def compactIndex(spark: SparkSession, kind: String, table: String)
      : Seq[(String, graft.sources.TableCompact.CompactStats)] = kind match {
    case "postings" => Seq("postings" -> graft.text.SearchIndex.compact(spark, table))
    case "bm25" =>
      val (tf, st) = graft.text.SearchIndex.compactBm25(spark, table)
      Seq("tf" -> tf, "stats" -> st)
    case "minhash" => Seq("bands" -> graft.dedup.MinhashIndex.compact(spark, table))
    case "ivf" => Seq("lists" -> graft.similarity.IvfIndex.compact(spark, table))
    case "pq" => Seq("lists" -> graft.similarity.PqIndex.compact(spark, table))
  }

  private def diffGate(c: Ctx): Option[Versioned.DiffGate] = c.opt("diff-key").map(k =>
    Versioned.DiffGate(k, c.req("diff-content"), c.long("max-changed-pm", 50L)))

  private def outcome(promoted: Boolean, version: Int, path: String) = Seq(
    ("outcome", "promoted", promoted.toString), ("outcome", "version", version.toString),
    ("outcome", "path", path))

  private def violations(vs: Seq[(String, Long)]) =
    vs.map { case (rule, n) => ("violation", rule, n.toString) }

  private val Day = 24L * 3600 * 1000

  /** `promote --action X`: the versioned-warehouse lifecycle over --root. */
  private val promoteActions: ListMap[String, Ctx => Unit] = ListMap(
    // write-audit-publish: stage -i, gate on the checks (+ optional
    // live-vs-staged churn limit), swap the manifest pointer on pass;
    // a refusal throws after the report and leaves the live version
    "promote" -> { c =>
      val r = Versioned.promote(c.input, c.req("root"), c.checks, diffGate(c))
      c.report(outcome(r.promoted, r.version, r.path) ++ r.reason.map(("outcome", "reason", _)) ++
        violations(r.violations) ++ r.diffStats.map { case (s, n) => ("diff", s, n.toString) })
      if (!r.promoted) sys.error(s"promotion refused: ${r.reason.getOrElse("")}")
    },
    "promote-bucketed" -> { c =>
      val r = Versioned.promoteBucketed(c.input, c.req("root"), c.req("key"),
        c.int("buckets", 64), c.checks, diffGate(c),
        zoneCols = c.opt("zones").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
        keyBloomBits = c.int("key-bloom-bits", 0),
        zoneCluster = c.bool("zone-cluster"))
      c.report(outcome(r.promoted, r.version, r.path) ++ r.reason.map(("outcome", "reason", _)) ++
        violations(r.violations))
      if (!r.promoted) sys.error(s"promotion refused: ${r.reason.getOrElse("")}")
    },
    // upsert -i by the bucket key (--deleted rows delete), rewriting
    // only the touched buckets; --retry N replays a lost writer race
    "merge" -> { c =>
      val (root, del, zc) = (c.req("root"), c.expr("deleted", "false"), c.bool("zone-cluster"))
      val r = c.intOpt("retry") match {
        case Some(n) => Versioned.mergeRetry(c.input, root, del, c.checks,
          c.longOpt("max-changed-pm"), attempts = n, zoneCluster = zc)
        case None => Versioned.merge(c.input, root, del, c.checks,
          c.longOpt("max-changed-pm"), zoneCluster = zc)
      }
      c.report(Seq(("outcome", "merged", r.merged.toString),
        ("outcome", "version", r.version.toString),
        ("outcome", "upserted", r.upserted.toString),
        ("outcome", "inserted", r.inserted.toString),
        ("outcome", "deleted", r.deleted.toString),
        ("outcome", "rewritten_buckets", r.rewrittenBuckets.mkString(" "))) ++
        r.reason.map(("outcome", "reason", _)) ++ violations(r.violations))
      if (!r.merged) sys.error(s"merge refused: ${r.reason.getOrElse("")}")
    },
    // merge-on-read: -i lands as a delta layer, folded by a later
    // merge/fold-deltas/maintain; --max-delta-layers bounds read amplification
    "patch" -> { c =>
      val (root, del, maxLayers) = (c.req("root"), c.expr("deleted", "false"), c.int("max-delta-layers", 8))
      val r = c.intOpt("retry") match {
        case Some(n) => Versioned.patchRetry(c.input, root, del, c.checks,
          c.longOpt("max-changed-pm"), attempts = n, maxDeltaLayers = maxLayers)
        case None => Versioned.patch(c.input, root, del, c.checks,
          c.longOpt("max-changed-pm"), maxDeltaLayers = maxLayers)
      }
      c.report(Seq(("outcome", "patched", r.patched.toString),
        ("outcome", "version", r.version.toString),
        ("outcome", "upserted", r.upserted.toString),
        ("outcome", "inserted", r.inserted.toString),
        ("outcome", "deleted", r.deleted.toString),
        ("outcome", "delta_layers", r.layers.toString)) ++
        r.reason.map(("outcome", "reason", _)) ++ violations(r.violations))
      if (!r.patched) sys.error(s"patch refused: ${r.reason.getOrElse("")}")
    },
    "fold-deltas" -> { c =>
      val r = Versioned.foldDeltas(c.spark, c.req("root"), c.checks)
      c.report(Seq(("outcome", "folded", r.merged.toString),
        ("outcome", "version", r.version.toString),
        ("outcome", "rewritten_buckets", r.rewrittenBuckets.mkString(" "))) ++
        r.reason.map(("outcome", "reason", _)))
    },
    "compact" -> { c =>
      val r = Versioned.compact(c.spark, c.req("root"), c.checks)
      c.report(outcome(r.promoted, r.version, r.path))
      if (!r.promoted) sys.error(s"compaction refused: ${r.reason.getOrElse("")}")
    },
    // streaming change-feed consumer: diff rows of every version
    // published since the --checkpoint's offset; exactly-once per
    // checkpoint via the file source's offset log
    "tail-feed" -> { c =>
      val (root, k) = (c.req("root"), c.req("diff-key"))
      val (ck, content) = (c.req("checkpoint"), c.expr("diff-content"))
      c.req("outfile")
      val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val q = Versioned.startChangeFeed(c.spark, root, ck, F.expr(k), content, keyName = k) {
        (diff, _) => batches.synchronized { batches += diff } // microbatch thread
      }
      q.awaitTermination()
      batches.synchronized(batches.toList).reduceOption(_ unionByName _) match {
        case Some(d) => c.write(d)
        case None => println(s"[graft] no new versions under $root")
      }
    },
    "maintain" -> { c =>
      val r = Versioned.maintain(c.spark, c.req("root"),
        maxOwnerDirs = c.int("max-owner-dirs", 4), retainLast = c.int("retain", 2),
        staleStagingMillis = c.long("stale-ms", Day), checks = c.checks)
      c.report(Seq(
        ("gauge", "owner_dirs_before", r.ownerDirsBefore.toString),
        ("gauge", "owner_dirs_after", r.ownerDirsAfter.toString),
        ("action", "compacted", r.compacted.toString)) ++
        r.compactVersion.map(v => ("action", "compact_version", v.toString)) ++
        r.vacuumed.map(("action", "vacuumed", _)))
    },
    "rebucket" -> { c =>
      val r = Versioned.rebucket(c.spark, c.req("root"), c.int("buckets"), c.checks)
      c.report(outcome(r.promoted, r.version, r.path))
      if (!r.promoted) sys.error(s"rebucket refused: ${r.reason.getOrElse("")}")
    },
    // rollback PUBLISHES the target as a new version: history never rewrites
    "rollback" -> { c =>
      val root = c.req("root")
      val m = c.intOpt("to-version").map(Versioned.rollback(root, _)).getOrElse(Versioned.rollback(root))
      c.report(Seq(("outcome", "version", m.version.toString), ("outcome", "path", m.path)))
    },
    // --stale-ms gates the staging/claim sweep: never sweep a possibly-live stage
    "vacuum" -> { c =>
      import c.spark.implicits._
      c.write(Versioned.vacuum(c.req("root"), retainLast = c.int("retain", 2),
        staleStagingMillis = c.long("stale-ms", Day)).toDF("dropped"))
    },
    "current" -> { c =>
      val root = c.req("root")
      val m = Versioned.currentManifest(root).getOrElse(c.fail(s"no live version under $root"))
      c.report(Seq(("outcome", "version", m.version.toString), ("outcome", "path", m.path)))
    },
    // ts is the publish wall-clock (epoch millis; 0 = pre-stamp entry)
    "history" -> { c =>
      import c.spark.implicits._
      val root = c.req("root")
      c.write(Versioned.versions(root).map { m =>
        (m.version, m.path, m.previous.getOrElse(""), m.ts, new java.io.File(root, m.path).exists())
      }.toDF("version", "path", "previous", "ts", "retained"))
    },
    "read-version" -> (c => c.write(Versioned.readVersion(c.spark, c.req("root"), c.int("to-version")))),
    "describe" -> (c => c.write(Versioned.describe(c.spark, c.req("root")))),
    "read-asof" -> { c =>
      // --ts is epoch millis, an ISO instant, or an ISO date (midnight UTC)
      val raw = c.req("ts")
      def iso[T](p: => T): Option[T] =
        try Some(p) catch { case _: java.time.format.DateTimeParseException => None }
      val ts = raw.toLongOption
        .orElse(iso(java.time.Instant.parse(raw).toEpochMilli))
        .orElse(iso(java.time.LocalDate.parse(raw)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli))
        .getOrElse(c.fail(s"--ts '$raw' must be epoch millis, an ISO instant, or an ISO date"))
      c.write(Versioned.readAsOf(c.spark, c.req("root"), ts))
    },
    "diff-versions" -> { c =>
      val k = c.req("diff-key")
      c.write(Versioned.diffVersions(c.spark, c.req("root"), c.int("from-version"),
        c.int("to-version"), F.expr(k), c.expr("diff-content"), keyName = k))
    },
    // files whose [min,max] zones miss the range never become tasks
    "read-range" -> { c =>
      val (root, rc) = (c.req("root"), c.req("range-col"))
      rangeRead(c, Versioned.zoneFamily(c.spark, root, rc))(
        Versioned.readRange(c.spark, root, rc, _, _), Versioned.readRange(c.spark, root, rc, _, _))
    })

  val verbs: Map[String, Verb] = ListMap(
    "partition.map" -> Verb("--expr \"id, value*2 AS v2\"",
      c => c.write(c.input.mapRecords(c.exprList("expr"): _*))),
    "partition.filter" -> Verb("--expr \"value > 10\"",
      c => c.write(c.input.filterRecords(c.expr("expr")))),
    "partition.flat_map" -> Verb("--expr \"explode(split(text, ' ')) AS word, id\"",
      c => c.write(c.input.mapRecords(c.exprList("expr"): _*))),
    // shmr distinct is BY KEY (partition.py:83 key_fn); with --key keep
    // the least row by --order per key (deterministic, unlike file
    // order); without, full-row distinct
    "partition.distinct" -> Verb("--expr \"a, b\" [--key \"a\" --order \"b\"]", { c =>
      val projected = c.input.mapRecords(c.exprList("expr"): _*)
      c.write(if (c.has("key")) projected.distinctBy(c.exprList("key"), c.sortList("order"))
        else projected.distinct())
    }),
    "partition.reduce" -> Verb("--aggs \"sum(v) AS s, count(1) AS n\"", { c =>
      val aggs = c.exprList("aggs")
      c.write(c.input.reduceRecords(aggs.head, aggs.tail: _*))
    }),
    "partition.reduce_by_key" -> Verb("--keys \"k1, k2\" --aggs \"sum(v) AS s\"",
      c => c.write(c.input.reduceByKey(c.exprList("keys"), c.exprList("aggs")))),
    // bucket i → its own directory (shmr: bucket i → file i); a plain
    // write would repartition round-robin and mix buckets
    "partition.split_by_key" -> Verb("--key \"id\" --num-partitions 8", { c =>
      val n = c.int("num-partitions")
      PartitionedFiles.writeJsonlPartitionedBy(
        c.input.splitByKey(c.expr("key"), n), c.req("outfile"), "bucket")
    }),
    "partition.count" -> Verb("[--outfile stdout|PATH]", { c =>
      val n = c.input.countRecords()
      c.opt("outfile") match {
        case None | Some("stdout") => println(n)
        case Some(path) => java.nio.file.Files.writeString(java.nio.file.Paths.get(path), n.toString)
      }
    }),
    "partition.head" -> Verb("[--n 10] --order \"v DESC, id\"", { c =>
      val n = c.int("n", 10)
      c.write(c.input.headRecords(n, c.sortList("order"): _*))
    }),
    // shmr partition.join (partition.py:263): the right key is computed
    // BEFORE de-colliding names (it references the original columns),
    // then colliding right columns get a with_ prefix (shmr emits
    // [left_record, right_record]; flat columns need distinct names)
    "partition.join" -> Verb("--with OTHER [--with-schema DDL] --key \"id\" --with-key \"id\" [--broadcast true]", { c =>
      val other = c.side("with")
      val left = c.input.withColumn("__jk", c.expr("key"))
      val right = other.columns.filter(left.columns.contains).foldLeft(
        other.withColumn("__wjk", c.expr("with-key")))((r, n) => r.withColumnRenamed(n, s"with_$n"))
      c.write(left.keyedJoin(right, F.col("__jk") === F.col("__wjk"),
        broadcastRight = c.bool("broadcast")).drop("__jk", "__wjk"))
    }),
    // shmr partition.apply streams fn over records for its side effects
    // (partition.py:102): evaluate over every record, report the count
    "partition.apply" -> Verb("--expr \"assert_true(v >= 0)\"",
      c => println(c.input.mapRecords(c.expr("expr")).count())),
    // ListPartition.reduce (partitions.py:145): one global aggregate
    "partitions.reduce" -> Verb("--aggs \"sum(v) AS s\"", { c =>
      val aggs = c.exprList("aggs")
      c.write(c.input.reduceRecords(aggs.head, aggs.tail: _*))
    }),
    // shmr ListPartition.coalesce (partitions.py:81)
    "partitions.coalesce" -> Verb("--num-partitions 4 | --records-per-partition N", { c =>
      val df = c.input
      val n = c.intOpt("num-partitions")
        .orElse(c.longOpt("records-per-partition").map(rpp =>
          math.max(1L, (df.count() + rpp - 1) / rpp).toInt))
        .getOrElse(c.fail("--num-partitions or --records-per-partition required"))
      c.write(df.repartitionRecords(n), parts = n)
    }),
    "partitions.concat" -> Verb("", c => c.write(c.input.coalescePartitions(1))),

    "dedup-minhash" -> Verb(s"$TextId [--shingle 3] [--bands 4] [--rows-per-band 2] " +
      "[--emit keep|pairs|keep-best [--order \"length(text) DESC, doc_id\"]]", { c =>
      val df = c.input
      val (text, id) = textId(c)
      val (shingleN, numBands, rowsPerBand) = (c.int("shingle", 3), c.int("bands", 4), c.int("rows-per-band", 2))
      // the keep rules only need the clusters: the star edges span them
      def edges = graft.dedup.Dedup.minhashClusterEdges(df, text, id, shingleN, numBands, rowsPerBand)
      c.oneOf("emit", "keep")("keep", "pairs", "keep-best") match {
        case "pairs" =>
          c.write(graft.dedup.Dedup.minhashCandidatePairs(df, text, id, shingleN, numBands, rowsPerBand))
        case "keep" => c.write(graft.dedup.Components.keepOnePerCluster(df, id, edges, "doc_a", "doc_b"))
        // --order needs an id tiebreak or the keeper is nondeterministic
        case "keep-best" => c.write(graft.dedup.Components.keepBestPerCluster(
          df, id, edges, "doc_a", "doc_b", c.sortList("order")))
      }
    }),
    "pack" -> Verb(s"$TextId [--shard \"doc_id % 8\"] [--budget 2000]", { c =>
      val (text, id) = textId(c)
      val shard = c.expr("shard", s"pmod(${c.req("id")}, 8)")
      c.write(graft.text.TextPrep.packByTokenBudget(
        c.input.withColumn("__shard", shard), F.col("__shard"), Seq(id),
        graft.text.TextAnalysis.tokenCount(text), budget = c.long("budget", 2000L))
        .withColumnRenamed("__shard", "shard"))
    }),
    "split-assign" -> Verb("--key doc_id [--train 90] [--val 5]", { c =>
      c.write(c.input.withColumn("split", graft.text.TextPrep.splitAssign(
        c.expr("key"), trainPct = c.int("train", 90), valPct = c.int("val", 5))))
    }),
    "decontam" -> Verb(s"--bench PATH $TextId [--bench-text C] [--bench-id C] " +
      "[--n 3] [--min-hits 3] [--emit clean|flags]", { c =>
      val (text, id) = textId(c)
      val bench = c.side("bench")
      val (bText, bId) = (c.expr("bench-text", c.req("text")), c.expr("bench-id", c.req("id")))
      val (n, minHits) = (c.int("n", 3), c.long("min-hits", 3L))
      val emit = c.oneOf("emit", "clean")("clean", "flags")
      val op = if (emit == "flags") graft.dedup.Decontam.ngramContamination _
        else graft.dedup.Decontam.decontaminate _
      c.write(op(c.input, text, id, bench, bText, bId, n, minHits))
    }),
    "boilerplate" -> Verb(s"$TextId [--n 3] [--min-doc-freq 5]", { c =>
      val (text, id) = textId(c)
      c.write(graft.text.TextPrep.removeFrequentGrams(c.input, text, id,
        n = c.int("n", 3), minDocFreq = c.long("min-doc-freq", 5L)))
    }),
    "scrub-spans" -> Verb(s"$TextId [--window 20] [--min-count 2] [--emit clean|spans]", { c =>
      val (text, id) = textId(c)
      val (w, minCount) = (c.int("window", 20), c.long("min-count", 2L))
      c.write(c.oneOf("emit", "clean")("clean", "spans") match {
        case "clean" => graft.dedup.SubstringDedup.scrubDuplicatedSpans(c.input, text, id, w, minCount)
        case "spans" => graft.dedup.SubstringDedup.duplicatedSpans(c.input, text, id, w, minCount)
      })
    }),
    "sample-tokens" -> Verb(s"$TextId --group source --budget 1000000", { c =>
      val (text, id) = textId(c)
      c.write(graft.text.TextPrep.sampleByTokenBudget(c.input, c.expr("group"), id,
        graft.text.TextAnalysis.tokenCount(text), budget = c.long("budget")))
    }),
    "lm-score" -> Verb(s"$TextId [--rare-max 100]", { c =>
      val (text, id) = textId(c)
      c.write(graft.text.TextAnalysis.lmScore(c.input, text, id, rareMax = c.long("rare-max", 100L)))
    }),
    "semdedup" -> Verb("--vec embedding --id vec_id [--centroids 16] [--iters 2] [--tau 0.95] " +
      "[--max-cell N|none] [--emit keep|flags] " +
      "[--pq true [--margin 0.2] [--pq-m 8] [--pq-subdim 8] [--pq-k 64] [--pq-iters 2]]", { c =>
      import graft.similarity.CellCap
      val df = c.input
      val corpus = graft.similarity.Similarity.prepareQuantized(df, c.col("vec"), c.col("id"))
      // default cap is CellCap.Auto (4× average cell): scale-safe untuned
      val cap = c.opt("max-cell") match {
        case None => CellCap.Auto
        case Some("none") => CellCap.Unbounded
        case Some(_) => CellCap.Fixed(c.int("max-cell"))
      }
      val (centroids, iters, tau) = (c.int("centroids", 16), c.int("iters", 2), c.double("tau", 0.95))
      // --pq screens within-cell pairs on product-quantization codes
      // first, then re-checks exactly at tau: same verdict policy
      val verdicts =
        if (c.bool("pq"))
          graft.similarity.SemDedup.semDedupPq(corpus, centroids, iters, tau,
            margin = c.double("margin", 0.2), m = c.int("pq-m", 8),
            subDim = c.int("pq-subdim", 8), pqK = c.int("pq-k", 64),
            pqIters = c.int("pq-iters", 2), maxCellSize = cap)
        else graft.similarity.SemDedup.semDedup(corpus, centroids, iters, tau, cap)
      c.oneOf("emit", "keep")("keep", "flags") match {
        case "flags" => c.write(verdicts)
        case "keep" => keepById(c, df, c.col("id"), verdicts.filter(!F.col("is_dup")).select("vec_id"))
      }
    }),
    "embed" -> Verb("--text COL --id COL [--dim 64]",
      c => c.write(graft.text.HashEmbed.embedDocuments(c.input, c.col("text"), c.col("id"), c.int("dim", 64)))),
    // -i is the corpus, --queries the query set: with --prepared both
    // are (vec_id, e, nrm) frames (e.g. `embed` output), otherwise
    // float vector frames quantized here via --vec/--id
    "knn" -> Verb("--queries PATH [--k 3] (--prepared true | --vec COL --id COL)", { c =>
      import graft.similarity.Similarity
      val k = c.int("k", 3)
      val qdf = c.parquet("queries")
      val (corpus, queries) =
        if (c.bool("prepared")) (c.input, qdf)
        else (Similarity.prepareQuantized(c.input, c.col("vec"), c.col("id")),
          Similarity.prepareQuantized(qdf, c.col("vec"), c.col("id")))
      c.write(Similarity.cosineTopK(corpus, queries, k))
    }),
    "bpe" -> Verb("--mode train --text COL [--max-types 100000] [--merges 16] | " +
      "--mode tokens --text COL --id COL --merges-table PATH [--max-types 100000]", { c =>
      import graft.text.Bpe
      val text = c.col("text")
      val maxTypes = c.int("max-types", 100000)
      c.oneOf("mode", "train")("train", "tokens") match {
        case "train" =>
          val numMerges = c.int("merges", 16)
          c.write(Bpe.mergesDf(c.spark, Bpe.trainMerges(Bpe.wordTypes(c.input, text, maxTypes), numMerges)))
        case "tokens" =>
          val id = c.col("id")
          val merges = c.parquet("merges-table").orderBy("rank").collect()
            .map(r => (r.getString(1), r.getString(2))).toSeq
          val df = c.input
          c.write(Bpe.tokenCounts(df, text, Seq(id), Bpe.symbolize(Bpe.wordTypes(df, text, maxTypes), merges)))
      }
    }),
    // append: OR-mergeable register of this drop's keys (idempotent
    // per --drop-id); screen: might_seen=false ⇒ certainly novel, zero
    // corpus access; novel: Bloom-certain novels skip the anti-join
    "bloom-ledger" -> Verb("--mode append --ledger PATH --drop-id ID --key EXPR [--bits 1048576] [--hashes 5] | " +
      "--mode screen --ledger PATH --key EXPR | " +
      "--mode novel --ledger PATH --corpus PATH --key EXPR [--corpus-key EXPR]", { c =>
      import graft.sketch.BloomLedger
      val key = c.expr("key")
      val (bits, hashes) = (c.int("bits", 1 << 20), c.int("hashes", 5))
      val ledger = c.req("ledger")
      c.oneOf("mode", "screen")("append", "screen", "novel") match {
        case "append" =>
          val dropId = c.req("drop-id")
          BloomLedger.append(ledger, BloomLedger.dropSummary(c.input, dropId, key, bits, hashes))
        case "screen" =>
          c.write(BloomLedger.screen(c.input, key, BloomLedger.mergedFrom(c.spark, ledger)))
        case "novel" =>
          val corpus = c.parquet("corpus")
          c.write(BloomLedger.novelExact(corpus, c.opt("corpus-key").map(F.expr).getOrElse(key),
            c.input, key, BloomLedger.mergedFrom(c.spark, ledger)))
      }
    }),
    // append: drop-sized union-find, only affected hash(id) buckets
    // staged + atomic manifest swap; vacuum GCs superseded append dirs
    "cluster-ledger" -> Verb("--mode append --ledger PATH --a doc_a --b doc_b [--buckets 64] | " +
      "--mode labels|vacuum --ledger PATH", { c =>
      import c.spark.implicits._
      import graft.dedup.ClusterLedger
      val ledger = c.req("ledger")
      c.oneOf("mode", "labels")("append", "labels", "vacuum") match {
        case "append" =>
          val (a, b) = (c.req("a"), c.req("b"))
          val st = ClusterLedger.append(ledger, c.input, a, b, numBuckets = c.int("buckets", 64))
          c.write(Seq(
            ("relabeled", st.relabeled.toString),
            ("new_ids", st.newIds.toString),
            ("rewritten_buckets", st.rewrittenBuckets.mkString(","))).toDF("stat", "value"))
        case "labels" => c.write(ClusterLedger.labels(c.spark, ledger))
        case "vacuum" => c.write(ClusterLedger.vacuum(ledger).toDF("dropped"))
      }
    }),
    // the reference profile is built once; each drop is reported
    // against the stored profile, never rescanning the reference
    "drift" -> Verb("--mode profile --bucket EXPR | --mode report --profile PATH --bucket EXPR", { c =>
      val bucket = c.expr("bucket")
      c.oneOf("mode", "report")("profile", "report") match {
        case "profile" => c.write(c.input.select(bucket.cast("long").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_ref")))
        case "report" =>
          val profile = c.parquet("profile")
          c.write(graft.operators.TableDiff.driftAgainstProfile(profile, c.input, bucket))
      }
    }),
    "rrf" -> Verb("--id doc_id --signals \"len=size(split(trim(text),'\\s+'));...\" [--k 60] [--scale 1000000]", { c =>
      val id = c.expr("id")
      val sigs = c.req("signals").split(";").toSeq.map { p =>
        val (n, e) = p.span(_ != '=')
        if (e.isEmpty) c.fail(s"signal needs name=expr, got: $p")
        n.trim -> F.expr(e.drop(1))
      }
      c.write(graft.quality.Ensemble.rrf(c.input, id, sigs,
        k = c.long("k", 60L), scale = c.long("scale", 1000000L)))
    }),
    "kmv-ledger" -> Verb("--mode append --ledger PATH --drop-id ID --text COL [--k 256] | " +
      "--mode overlap --ledger PATH --text COL", { c =>
      import graft.sketch.KmvLedger
      val (text, ledger) = (c.expr("text"), c.req("ledger"))
      c.oneOf("mode", "overlap")("append", "overlap") match {
        case "append" =>
          val dropId = c.req("drop-id")
          KmvLedger.append(ledger, KmvLedger.dropSummary(c.input, dropId, text, c.int("k", 256)))
        case "overlap" =>
          c.write(KmvLedger.overlapVsHistory(c.input, text, KmvLedger.mergedFrom(c.spark, ledger)))
      }
    }),
    // append is idempotent per --drop-id (dynamic partition overwrite);
    // rollup reads the ledger as -i: additive sums + exact HLL merge
    "stats-ledger" -> Verb("--mode append --ledger PATH --drop-id ID --group EXPR --key EXPR " +
      "[--tokens EXPR | --text COL] [--p 12] | --mode rollup [--p 12]", { c =>
      import graft.sketch.StatsLedger
      val p = c.int("p", 12)
      c.oneOf("mode", "append")("append", "rollup") match {
        case "append" =>
          val (ledger, dropId) = (c.req("ledger"), c.req("drop-id"))
          val (group, key) = (c.expr("group"), c.expr("key"))
          val tokens = c.opt("tokens").map(F.expr).orElse(c.opt("text").map(t =>
            graft.text.TextAnalysis.tokenCount(F.col(t)).cast("bigint")))
            .getOrElse(c.fail("--tokens EXPR (or --text COLUMN) required"))
          StatsLedger.append(ledger, StatsLedger.dropSummary(c.input, dropId, group, key, tokens, p))
        case "rollup" => c.write(StatsLedger.merge(c.input, p))
      }
    }),
    "centroid-classify" -> Verb("--vec embedding --id vec_id --label label [--emit preds|confusion]", { c =>
      import graft.similarity.Similarity
      val corpus = Similarity.prepareQuantized(c.input, c.col("vec"), c.col("id"), c.col("label").as("label"))
      val preds = Similarity.centroidClassify(corpus)
      c.write(c.oneOf("emit", "preds")("preds", "confusion") match {
        case "preds" => preds
        case "confusion" => confusion(preds)
      })
    }),
    // --hold-mod M scores only the held-out doc_id ≡ 0 (mod M) slice;
    // otherwise resubstitution. --emit keep is Corpus.nbLabelFilter
    "nb-classify" -> Verb(s"$TextId --label lang [--buckets 256] [--scale-bits 40] [--hold-mod M] " +
      "[--emit preds|confusion|keep]", { c =>
      import graft.quality.NaiveBayes
      val df = c.input
      val (text, id, label) = (c.col("text"), c.col("id"), c.col("label"))
      val (buckets, scaleBits) = (c.int("buckets", 256), c.int("scale-bits", 40))
      val preds = c.intOpt("hold-mod") match {
        case Some(m) => NaiveBayes.holdoutProbe(df, text, id, label, m, buckets, scaleBits)
        case None => NaiveBayes.classify(df, text, id, label, df, text, id, label, buckets, scaleBits)
      }
      c.oneOf("emit", "preds")("preds", "confusion", "keep") match {
        case "preds" => c.write(preds)
        case "confusion" => c.write(confusion(preds))
        case "keep" => keepById(c, df, id, preds.filter(F.col("correct") === 1).select("doc_id"))
      }
    }),
    "scrub-sentences" -> Verb(s"$TextId [--max-sent-tokens 8] [--emit clean|spans]", { c =>
      import graft.dedup.SentenceDedup
      val (df, text, id) = (c.input, c.col("text"), c.col("id"))
      val maxSent = c.int("max-sent-tokens", 8)
      c.write(c.oneOf("emit", "clean")("clean", "spans") match {
        case "clean" => SentenceDedup.scrubDuplicatedSentenceSpans(df, text, id, maxSent)
        case "spans" => SentenceDedup.duplicatedSentenceSpans(df, text, id, maxSent)
      })
    }),
    "dsir" -> Verb(s"--target PATH $TextId [--k N] [--target-text T] [--target-id I] [--buckets 512] " +
      "[--scale-bits 40] [--emit keep|weights]", { c =>
      import graft.quality.Dsir
      val (text, id) = textId(c)
      val target = c.side("target")
      val tText = c.expr("target-text", c.str("text", "text"))
      val tId = c.expr("target-id", c.str("id", "id"))
      val (buckets, scaleBits) = (c.int("buckets", 512), c.int("scale-bits", 40))
      val df = c.input
      c.oneOf("emit", "keep")("keep", "weights") match {
        case "weights" =>
          val ratios = Dsir.logRatios(target, tText, tId, df, text, id, buckets, scaleBits)
          c.write(Dsir.importanceWeights(df, text, id, ratios, buckets))
        case "keep" =>
          val k = c.int("k")
          keepById(c, df, id,
            Dsir.select(df, text, id, target, tText, tId, k, buckets, scaleBits).select("doc_id"))
      }
    }),
    "unimax" -> Verb("--group lang --text text [--budget-num 8] [--budget-den 5] [--epochs-milli 2000] " +
      "[--emit alloc|copies [--id COL]]", { c =>
      import graft.text.UniMax
      val (group, text) = (c.expr("group"), c.expr("text"))
      val (num, den) = (c.long("budget-num", 8L), c.long("budget-den", 5L))
      val epochsMilli = c.long("epochs-milli", 2000L)
      val df = c.input
      val alloc = UniMax.allocateRelative(df, group, text, num, den, epochsMilli)
      c.oneOf("emit", "alloc")("alloc", "copies") match {
        case "alloc" => c.write(alloc)
        case "copies" => c.write(UniMax.materializeCopies(df, group, text, c.expr("id"), alloc))
      }
    }),
    "novel" -> Verb(s"--corpus PATH $TextId [--shingle 3] [--bands 4] [--rows-per-band 2]", { c =>
      val (text, id) = textId(c)
      c.write(graft.dedup.Dedup.minhashNovel(c.side("corpus"), c.input, text, id,
        shingleN = c.int("shingle", 3), numBands = c.int("bands", 4),
        rowsPerBand = c.int("rows-per-band", 2)))
    }),
    // -i is the NEW snapshot, --old the previous one
    "diff" -> Verb("--old PATH --key doc_id --content text [--old-key K] [--old-content C] " +
      "[--key-name id] [--emit rows|stats]", { c =>
      import graft.operators.TableDiff
      val (key, content) = (c.expr("key"), c.expr("content"))
      val d = TableDiff.snapshotDiff(c.side("old"), c.input,
        c.opt("old-key").map(F.expr).getOrElse(key), key,
        c.opt("old-content").map(F.expr).getOrElse(content), content,
        keyName = c.str("key-name", "id"))
      c.write(c.oneOf("emit", "rows")("rows", "stats") match {
        case "rows" => d
        case "stats" => TableDiff.snapshotDiffStats(d)
      })
    }),
    "sample-weighted" -> Verb("--key doc_id --weight n_chars --threshold 400", { c =>
      c.write(c.input.filter(graft.text.TextPrep.weightedSample(
        c.expr("key"), c.expr("weight"), c.long("threshold"))))
    }),
    "winnow" -> Verb(s"$TextId [--k 5] [--w 4]", { c =>
      val (text, id) = textId(c)
      c.write(graft.text.TextAnalysis.winnowFingerprints(c.input, text, id,
        k = c.int("k", 5), w = c.int("w", 4)))
    }),
    "neighbors" -> Verb(s"$TextId [--window 5] [--key-len 30]", { c =>
      val (text, id) = textId(c)
      val key = F.substring(F.regexp_replace(F.lower(text.cast("string")), "[^a-z0-9]", ""),
        1, c.int("key-len", 30))
      c.write(graft.dedup.Dedup.sortedNeighborhoodPairs(c.input, id, key, window = c.int("window", 5)))
    }),
    "scd2" -> Verb("--key user_id --ts \"unix_micros(ts)\" [--order \"..., event_id\"]", { c =>
      val order = if (c.has("order")) c.sortList("order") else Seq(c.expr("ts"))
      c.write(graft.operators.TemporalJoins.scd2(c.input, c.expr("key"), c.expr("ts"), order))
    }),
    "shuffle" -> Verb("--key doc_id [--seed 42]",
      c => c.write(graft.operators.Ordering.shuffleRank(c.input, c.expr("key"), seed = c.long("seed", 42L)))),
    "pack-sequences" -> Verb(s"$TextId [--shard \"doc_id % 8\"] [--budget 2000] [--sep $$'\\n']", { c =>
      val (text, id) = textId(c)
      c.write(graft.text.TextPrep.packSequences(c.input, c.expr("shard", "0"), Seq(id), text,
        graft.text.TextAnalysis.tokenCount(text),
        budget = c.long("budget", 2000L), sep = c.str("sep", "\n")))
    }),
    // the whole prep chain as ONE verb (the Corpus facade); every
    // stage optional, --rules applied in the order given
    "corpus" -> Verb(s"$TextId [--rules gopher,c4,repetition [--gopher-min-words 50] " +
      "[--gopher-max-words 100000] [--text-name text]] [--min-tokens 30] [--dedup exact|none] " +
      "[--near minhash|minhash-best|simhash|winnow|none] [--lm-rare-max 100 [--lm-max-rare-ratio 0.5]] " +
      "[--bg-rare-max 25 [--bg-max-rare-ratio 0.5]] [--ppl-rare-max 100 [--ppl-keep 1,2] [--lang lang]] " +
      "[--decontam PATH [--decontam-text text] [--decontam-id doc_id]] " +
      "[--source-cap N [--source SOURCE_COL]] [--temperature SOURCE_COL] [--split 90,5] " +
      "[--emit docs|ledger]", { c =>
      val (text, id) = textId(c)
      val ledger = c.oneOf("emit", "docs")("docs", "ledger") == "ledger"
      var k = Corpus(c.input, text, id)
      if (ledger) k = k.audited
      c.opt("rules").foreach(_.split(",").map(_.trim).filter(_.nonEmpty).foreach {
        case "gopher" => k = k.gopherQualityFilter(c.int("gopher-min-words", 50),
          c.int("gopher-max-words", 100000))
        case "c4" => k = k.c4LineFilter(c.str("text-name", "text"))
        case "repetition" => k = k.repetitionFilter()
        case o => c.fail(s"--rules entries must be gopher|c4|repetition, got: $o")
      })
      c.intOpt("min-tokens").foreach(m => k = k.qualityFilter(m))
      if (c.oneOf("dedup", "exact")("exact", "none") == "exact") k = k.exactDedup()
      c.oneOf("near", "minhash")("minhash", "minhash-best", "simhash", "winnow", "none") match {
        case "minhash" => k = k.nearDedup()
        case "minhash-best" => k = k.nearDedupKeepBest()
        case "simhash" => k = k.nearDedupSimhash()
        case "winnow" => k = k.nearDedupWinnow()
        case "none" =>
      }
      c.longOpt("lm-rare-max").foreach(r => k = k.lmQualityFilter(r, c.double("lm-max-rare-ratio", 0.5)))
      c.longOpt("bg-rare-max").foreach(r => k = k.bigramQualityFilter(r, c.double("bg-max-rare-ratio", 0.5)))
      c.longOpt("ppl-rare-max").foreach(r =>
        k = k.keepPplBuckets(F.col(c.str("lang", "lang")), r, c.ints("ppl-keep", "1,2").toSet))
      if (c.has("decontam"))
        k = k.decontaminate(c.side("decontam"), c.expr("decontam-text", "text"), c.expr("decontam-id", "doc_id"))
      c.intOpt("source-cap").foreach(s => k = k.capPerSource(F.col(c.str("source", "source")), s))
      c.opt("temperature").foreach(s => k = k.temperatureSample(F.col(s)))
      if (c.has("split")) c.ints("split", "") match {
        case Seq(train, v) => k = k.splitAssign(train, v)
        case _ => c.fail("--split needs TRAIN,VAL percentages")
      }
      c.write(if (ledger) k.dropLedger else k.df)
    }),
    // with no --phrases file the corpus's own top n-gram phrases are used
    "phrase-search" -> Verb(s"$TextId [--phrases PATH [--phrase-col phrase]] [--n 3] [--top 5]", { c =>
      import graft.text.Search
      val (text, id) = textId(c)
      val df = c.input
      val phrases = if (c.has("phrases")) c.side("phrases")
        else Search.topPhrases(df, text, n = c.int("n", 3), k = c.int("top", 5))
      val phrase = c.expr("phrase-col", "phrase")
      c.write(Search.phraseOccurrences(df, text, id, phrases, phrase, phrase))
    }),
    "trending" -> Verb("--key EXPR --day EXPR", c => c.write(
      graft.operators.Timeseries.TimeseriesOps(c.input).decayedCounts(c.expr("key"), c.expr("day")))),
    "quantile-norm" -> Verb("--group EXPR --score EXPR --id EXPR", c => c.write(
      graft.operators.Relational.RelationalOps(c.input)
        .quantileNormalize(c.expr("group"), c.expr("score"), c.expr("id")))),
    "skew" -> Verb("--group EXPR --key EXPR [--lanes 60]", c => c.write(
      graft.sketch.Sketches.amsF2(c.input, c.expr("group"), c.expr("key"), lanes = c.int("lanes", 60)))),
    "trend" -> Verb("--group EXPR --x EXPR --y EXPR", c => c.write(
      graft.operators.Relational.RelationalOps(c.input).groupOls(Seq(c.expr("group")), c.expr("x"), c.expr("y")))),
    "balance" -> Verb("--group EXPR --value EXPR", c => c.write(
      graft.operators.Relational.RelationalOps(c.input).giniByGroup(Seq(c.expr("group")), c.expr("value")))),
    "stop-grams" -> Verb(s"$TextId [--n 3] [--cap 64|auto|unbounded]", { c =>
      import graft.dedup.DocFreqCap
      val (text, id) = textId(c)
      val cap = c.str("cap", "64") match {
        case "auto" => DocFreqCap.Auto
        case "unbounded" => DocFreqCap.Unbounded
        case _ => DocFreqCap.Fixed(c.long("cap", 64L))
      }
      c.write(graft.dedup.Dedup.stopGrams(c.input, text, id, n = c.int("n", 3), cap = cap))
    }),
    // --blocks B is the unbiased 1-in-B pair-sample work dial; --blocks 1
    // buys the exact all-pairs sweep (quadratic in per-window actives)
    "coactive" -> Verb("--user EXPR --type EXPR --ts EXPR [--bucket-hours 3] [--blocks 4] [--top 25]", { c =>
      c.write(graft.operators.TemporalJoins.coActivePairs(c.input,
        c.expr("user"), c.expr("type"), c.expr("ts"),
        bucketUs = c.long("bucket-hours", 3L) * 3600000000L,
        blocks = c.int("blocks", 4), topK = c.int("top", 25)))
    }),
    "keywords" -> Verb("--text text [--iters 3] [--top 40]", c => c.write(
      graft.text.TextAnalysis.textRank(c.input, c.expr("text"),
        iters = c.int("iters", 3), topK = c.int("top", 40)))),
    "triplets" -> Verb("--vec embedding --id vec_id --label label [--anchor-mod 10] [--k 5]", { c =>
      import graft.similarity.Similarity
      val corpus = Similarity.prepareQuantized(c.input, c.expr("vec"), c.expr("id"), c.expr("label"))
      val anchors = corpus.filter(pmod(F.col("vec_id"), lit(c.long("anchor-mod", 10L))) === 0)
      c.write(Similarity.mineTriplets(corpus, anchors, k = c.int("k", 5)))
    }),
    // NULL AUC for one-class groups
    "auc" -> Verb("--group EXPR --score INTEGRAL-EXPR --positive BOOL-EXPR", c => c.write(
      graft.quality.Eval.aucExact(c.input, c.expr("group"), c.expr("score"), c.expr("positive")))),
    "keyness" -> Verb("--text COL --group EXPR [--top 15]", c => c.write(
      graft.text.TextAnalysis.keyness(c.input, c.expr("text"), c.expr("group"), topK = c.int("top", 15)))),
    // entities whose last event is within --censor-hours of the horizon
    // are censored, not churned
    "survival" -> Verb("--id EXPR --ts-us MICROS-EXPR [--censor-hours 24] [--bucket-hours 24]", c => c.write(
      graft.operators.Timeseries.kaplanMeier(c.input, c.expr("id"), c.expr("ts-us"),
        censorWindowUs = c.long("censor-hours", 24L) * 3600000000L,
        bucketUs = c.long("bucket-hours", 24L) * 3600000000L))),
    "ctfidf" -> Verb("--text COL --group EXPR [--top 15]", c => c.write(
      graft.text.TextAnalysis.ctfidfTopTerms(c.input, c.expr("text"), c.expr("group"), topK = c.int("top", 15)))),
    "mi" -> Verb("--x EXPR --y EXPR", c => c.write(
      graft.operators.Relational.RelationalOps(c.input).mutualInformation(c.expr("x"), c.expr("y")))),
    "distinct-n" -> Verb("--text COL --group EXPR [--ns 1,2,3]", c => c.write(
      graft.text.TextAnalysis.distinctN(c.input, c.expr("text"), c.expr("group"), c.ints("ns", "1,2,3")))),
    "kl-source" -> Verb("--text COL --group EXPR", c => c.write(
      graft.text.TextAnalysis.sourceKl(c.input, c.expr("text"), c.expr("group")))),
    "cc-sizes" -> Verb("[--a doc_a] [--b doc_b]", { c =>
      import graft.dedup.Components
      val comps = Components.connectedComponents(c.input, c.str("a", "doc_a"), c.str("b", "doc_b"))
      c.write(Components.componentSizes(comps, F.col("cluster_id")))
    }),
    "hhi" -> Verb("--group EXPR --key EXPR", c => c.write(
      graft.operators.Relational.RelationalOps(c.input).concentration(c.expr("group"), c.expr("key")))),
    "spearman" -> Verb("--group EXPR --x INTEGRAL-EXPR --y INTEGRAL-EXPR", c => c.write(
      graft.operators.Relational.RelationalOps(c.input).spearman(Seq(c.expr("group")), c.expr("x"), c.expr("y")))),
    "kcore" -> Verb("--src EXPR --dst EXPR [--k 2] [--rounds 12]", { c =>
      val edges = c.input.select(c.expr("src").as("src"), c.expr("dst").as("dst"))
      c.write(graft.operators.GraphOps.kCore(edges, k = c.long("k", 2L), maxRounds = c.int("rounds", 12)))
    }),
    "benford" -> Verb("--value INTEGRAL-EXPR",
      c => c.write(graft.quality.Validate.benfordAudit(c.input, c.expr("value")))),
    "twap" -> Verb("--key EXPR --ts-us MICROS-EXPR --value INTEGRAL-EXPR", c => c.write(
      graft.operators.Timeseries.timeWeightedAvg(c.input, c.expr("key"), c.expr("ts-us"), c.expr("value")))),
    "readability" -> Verb(TextId, { c =>
      val (text, id) = textId(c)
      c.write(graft.text.TextAnalysis.readability(c.input, text, id))
    }),
    "luhn" -> Verb(TextId, { c =>
      val (text, id) = textId(c)
      c.write(graft.text.TextPrep.luhnScreen(c.input, text, id))
    }),
    "winsorize" -> Verb("--group EXPR --value INTEGRAL-EXPR [--lo 10] [--hi 990]", c => c.write(
      graft.operators.Relational.RelationalOps(c.input).winsorize(c.expr("group"), c.expr("value"),
        loPerMille = c.long("lo", 10L), hiPerMille = c.long("hi", 990L)))),
    "trimmed-mean" -> Verb("--group EXPR --value INTEGRAL-EXPR [--lo 50] [--hi 950]", c => c.write(
      graft.operators.Relational.RelationalOps(c.input).trimmedMean(c.expr("group"), c.expr("value"),
        loPerMille = c.long("lo", 50L), hiPerMille = c.long("hi", 950L)))),
    "target-encode" -> Verb("--key EXPR --target INTEGRAL-EXPR", c => c.write(
      graft.operators.Relational.RelationalOps(c.input).targetEncodeLoo(c.expr("key"), c.expr("target")))),
    "conversion-ci" -> Verb("--arm EXPR --entity EXPR --converted BOOL-EXPR", c => c.write(
      graft.quality.Validate.conversionReport(c.input, c.expr("arm"), c.expr("entity"), c.expr("converted")))),
    "attribution" -> Verb("--user EXPR --type EXPR --ts-us MICROS-EXPR --id EXPR --conv TYPE --touch T1,T2 " +
      "[--window-hours 24] [--bucket-hours 24]", { c =>
      val touches = c.req("touch").split(",").toSeq.filter(_.nonEmpty)
      c.write(graft.operators.TemporalJoins.attribution(c.input,
        c.expr("user"), c.expr("type"), c.expr("ts-us"), c.expr("id"), c.req("conv"), touches,
        c.long("window-hours", 24L) * 3600000000L,
        bucketUs = c.long("bucket-hours", 24L) * 3600000000L))
    }),
    // MG sketch per group + exact recount, threshold num/den of the group
    "heavy-keys" -> Verb("--group EXPR --key INTEGRAL-EXPR [--num 8] [--den 1000]", c => c.write(
      graft.sketch.Sketches.heavyHittersByGroup(c.input, c.expr("group"), c.expr("key"),
        shareNum = c.long("num", 8L), shareDen = c.long("den", 1000L)))),
    "bm25" -> Verb(s"$TextId --terms T1,T2 [--top 50]", { c =>
      val (text, id) = textId(c)
      val terms = c.req("terms").split(",").toSeq.filter(_.nonEmpty)
      c.write(graft.text.Search.bm25Rank(c.input, text, id, terms, topK = c.int("top", 50)))
    }),
    // file-level min/max manifests: write (cluster + stats), build
    // (stats over an existing dir), read (pruned range probe on --key)
    "zonemap" -> Verb("--action write --out PATH --key COL [--parts 8] | --action build --out PATH --key C1,C2 | " +
      "--action read --out PATH --key COL --lo X --hi Y [--bound-type long|string]", { c =>
      import graft.sources.ZoneMaps
      val out = c.req("out")
      c.oneOf("action", "write")("write", "build", "read") match {
        case "write" =>
          ZoneMaps.writeClustered(c.input, out, numPartitions = c.int("parts", 8), orderBy = c.req("key"))
          println(s"[graft] zone-mapped $out")
        case "build" =>
          ZoneMaps.buildStats(c.spark, out, c.req("key").split(",").toSeq)
          println(s"[graft] zone map rebuilt for $out")
        case "read" =>
          val key = c.req("key")
          rangeRead(c, ZoneMaps.boundFamily(c.spark, out, key))(
            ZoneMaps.readRange(c.spark, out, key, _, _), ZoneMaps.readRange(c.spark, out, key, _, _))
      }
    }),
    // consolidate a persisted index's append history to one base
    // partition; bm25 compacts tf AND its stats ledger, ivf also
    // reclaims rebalance's dead rows. Claim-guarded and crash-healable:
    // schedule from maintenance, not under probes
    "index-compact" -> Verb(s"--kind ${Kinds.mkString("|")} --table NAME", { c =>
      import c.spark.implicits._
      val kind = c.oneOf("kind")(Kinds: _*)
      c.write(compactIndex(c.spark, kind, c.req("table")).flatMap { case (label, st) => Seq(
        (label, "rows", st.rows), (label, "dropped_rows", st.droppedRows),
        (label, "partitions_before", st.partitionsBefore.toLong),
        (label, "partitions_after", st.partitionsAfter.toLong),
        (label, "files_before", st.filesBefore.toLong),
        (label, "files_after", st.filesAfter.toLong))
      }.toDF("table_part", "stat", "value"))
    }),
    // the index family's nightly job: compact past --max-partitions
    // (each drop partition costs a listing + footer fetches per probe);
    // for ivf rebalance first when list concentration drifted past
    // --hhi-factor-x10/10 × the build baseline; then reclaim superseded
    // generations. Zero-downtime throughout (LiveTable view swaps)
    "index-maintain" -> Verb(s"--kind ${Kinds.mkString("|")} --table NAME [--max-partitions 8] " +
      "[--keep-previous true] [--hhi-factor-x10 15]", { c =>
      import graft.similarity.{IvfIndex, PqIndex}
      val (kind, table) = (c.oneOf("kind")(Kinds: _*), c.req("table"))
      val (maxParts, keepPrev) = (c.int("max-partitions", 8), c.bool("keep-previous", true))
      val factorX10 = c.long("hhi-factor-x10", 15L)
      val dataTable = kind match {
        case "ivf" => s"${table}_cells"
        case "pq" => s"${table}_pqcells"
        case _ => table
      }
      def partsNow: Long = c.spark.sql("SHOW PARTITIONS " +
        graft.sources.LiveTable.resolve(c.spark, dataTable)).count()
      val partsBefore = partsNow
      val rebalanced = if (kind != "ivf") None else {
        val d = IvfIndex.driftStats(c.spark, table)
        if (d.hhiPermille * 10 > factorX10 * math.max(d.hhiPermilleAtBuild, 1L))
          Some(IvfIndex.rebalance(c.spark, table))
        else None
      }
      val needCompact = partsNow > maxParts || rebalanced.exists(_.splitCells > 0) // reclaim the split's dead rows
      if (needCompact) compactIndex(c.spark, kind, table)
      val genTables = if (kind == "bm25") Seq(table, s"${table}_stats") else Seq(dataTable)
      val vacuumed = genTables.flatMap(graft.sources.TableCompact.vacuumGens(c.spark, _, keepPrev)) ++
        (kind match { // trained-state generations (pointer files)
          case "ivf" => IvfIndex.vacuumGens(c.spark, table)
          case "pq" => PqIndex.vacuumGens(c.spark, table)
          case _ => Nil
        })
      c.report(Seq(
        ("gauge", "partitions_before", partsBefore.toString),
        ("gauge", "partitions_after", partsNow.toString),
        ("action", "compacted", needCompact.toString)) ++
        rebalanced.map(r => ("action", "rebalanced_cells", r.splitCells.toString)) ++
        vacuumed.map(("action", "vacuumed", _)))
    }),
    "kmv-overlap" -> Verb("--text text [--group source] [--k 256]", c => c.write(
      graft.sketch.Sketches.kmvOverlapReport(c.input, c.expr("group", "source"), c.expr("text"), c.int("k", 256)))),
    "datasheet" -> Verb(s"$TextId [--source source] [--lang lang] [--gopher-min-words 50] " +
      "[--gopher-max-words 100000]", { c =>
      val (text, id) = textId(c)
      c.write(graft.quality.Datasheet.perSource(c.input, text, id,
        c.expr("source", "source"), c.expr("lang", "lang"),
        minWords = c.int("gopher-min-words", 50), maxWords = c.int("gopher-max-words", 100000)))
    }),
    // metadata-only: no data scanned
    "schema-check" -> Verb("--expect \"id BIGINT, text STRING, ...\"",
      c => c.write(graft.quality.Validate.schemaDrift(c.input, c.req("expect")))),
    // every rule evaluated in ONE pass over the data
    "validate" -> Verb("[--not-null \"a,b\"] [--unique \"a,b\"] [--check \"pred1;pred2\"]", { c =>
      val cs = c.checks
      if (cs.isEmpty) c.fail("validate requires --not-null, --unique and/or --check")
      c.write(graft.quality.Validate.violations(c.input, cs))
    }),
    "promote" -> Verb(s"--root PATH [--action ${promoteActions.keys.mkString("|")}] " +
      "[--not-null/--unique/--check] [--diff-key id --diff-content c [--max-changed-pm 50]] " +
      "[--key doc_id --buckets 64 [--zones c1,c2] [--key-bloom-bits N] [--zone-cluster true]] " +
      "[--deleted EXPR] [--retry N] [--max-delta-layers 8] [--to-version N] [--from-version N] " +
      "[--retain 2] [--stale-ms MS] [--max-owner-dirs 4] [--checkpoint DIR] [--ts MILLIS|ISO] " +
      "[--range-col C --lo X --hi Y [--bound-type long|string]]", { c =>
      val action = c.str("action", "promote")
      promoteActions.getOrElse(action, c.fail(s"unknown --action: $action"))(c)
    })
  )
}
