package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Line-file partition I/O — the Spark-native counterpart of shmr's
  * partition files (reference /root/reference/shmr/partition_writer.py,
  * misc.py `get_open_fn`).
  *
  * shmr semantics re-expressed:
  *   - a "partition" = one jsonl/csv/text file, optionally gzipped →
  *     Spark reads whole directories of such files, decompressing
  *     .gz/.bz2 transparently by extension, exactly like shmr's
  *     `get_open_fn`; each file becomes (at least) one split.
  *   - pluggable ser/deser (`orjson`, `csv_loads`, `str_loads`) →
  *     format choice (json/csv/text) + schema.
  *   - `.meta` sidecars carrying `n_records` → [[writeMeta]] emits a
  *     `_graft_meta.json` per output directory with total and
  *     per-file record counts (one extra columnar scan, no collect of
  *     data rows).
  *   - `skip_nrows` (csv headers) → `header` option / `skipRows`.
  */
object PartitionedFiles {

  /** Read a directory (or glob) of jsonl partitions. Pass a DDL schema
    * to skip inference (mandatory at scale — inference scans the data). */
  def readJsonl(spark: SparkSession, path: String, ddlSchema: Option[String] = None): DataFrame = {
    val r = spark.read
    ddlSchema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Audit-grade jsonl read: parse in PERMISSIVE mode with the
    * malformed line preserved in `_corrupt_record` — the ingest shape
    * when upstream producers can't be trusted (real crawls always
    * have torn lines). Returns rows for BOTH good and bad records:
    * filter `_corrupt_record IS NULL` for the clean table, aggregate
    * the rest for the ingest report. The schema must be explicit
    * (inference would silently drop the corrupt column), and per
    * Spark semantics a corrupt row has every data column null. */
  def readJsonlAudit(spark: SparkSession, path: String, ddlSchema: String,
      corruptCol: String = "_corrupt_record"): DataFrame =
    spark.read
      .schema(s"$ddlSchema, $corruptCol STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)

  /** Write jsonl partitions; `codec` e.g. Some("gzip"). */
  def writeJsonl(df: DataFrame, path: String, numPartitions: Int, codec: Option[String] = None): Unit = {
    val w = df.repartition(numPartitions).write.mode(SaveMode.Overwrite)
    codec.fold(w)(c => w.option("compression", c)).json(path)
    writeMeta(df.sparkSession, path, "json")
  }

  /** Write jsonl split by a column's value — shmr `split_by_key`'s
    * "bucket i → its own file" layout, Spark-idiomatically one
    * directory per bucket value (`bucket=0/`, `bucket=1/`, …), which
    * downstream reads can partition-prune on. */
  def writeJsonlPartitionedBy(df: DataFrame, path: String, bucketCol: String): Unit = {
    df.write.mode(SaveMode.Overwrite).partitionBy(bucketCol).json(path)
  }

  /** Read csv partitions (header = shmr's skip_nrows=1 idiom). */
  def readCsv(
      spark: SparkSession,
      path: String,
      header: Boolean = true,
      ddlSchema: Option[String] = None
  ): DataFrame = {
    val r = spark.read.option("header", header.toString)
    ddlSchema.fold(r.option("inferSchema", "false"))(s => r.schema(s)).csv(path)
  }

  def writeCsv(
      df: DataFrame,
      path: String,
      numPartitions: Int,
      header: Boolean = true,
      codec: Option[String] = None
  ): Unit = {
    val w = df.repartition(numPartitions).write.mode(SaveMode.Overwrite).option("header", header.toString)
    codec.fold(w)(c => w.option("compression", c)).csv(path)
    writeMeta(df.sparkSession, path, "csv", header)
  }

  /** Raw line partitions (shmr str_loads/str_dumps). Expects a single
    * string column named `value`. */
  def readText(spark: SparkSession, path: String): DataFrame = spark.read.text(path)

  def writeText(df: DataFrame, path: String, numPartitions: Int, codec: Option[String] = None): Unit = {
    val w = df.repartition(numPartitions).write.mode(SaveMode.Overwrite)
    codec.fold(w)(c => w.option("compression", c)).text(path)
    writeMeta(df.sparkSession, path, "text")
  }

  /** Columnar formats — what the jsonl/csv partitions become once a
    * pipeline graduates to scale (typed schema, compression, column
    * pruning and predicate pushdown at the scan). Parquet is the
    * default interchange; ORC is the built-in alternative. */
  def readParquet(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  def writeParquet(df: DataFrame, path: String, numPartitions: Int, codec: Option[String] = None): Unit = {
    val w = df.repartition(numPartitions).write.mode(SaveMode.Overwrite)
    codec.fold(w)(c => w.option("compression", c)).parquet(path)
    writeMeta(df.sparkSession, path, "parquet")
  }

  /** Hive-layout partitioned parquet (`col=value/` directories) — the
    * 100 TB warehouse layout. Writes land one directory per distinct
    * partition value; reads with a predicate on the partition column
    * prune whole directories at PLANNING time (shows as
    * `PartitionFilters` on the scan — zero data files of non-matching
    * partitions are opened, unlike a row filter which still scans).
    * Keep partition columns low-cardinality (date, lang, source);
    * high-cardinality partitioning creates a small-file explosion. */
  def writeParquetPartitionedBy(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Idempotent partitioned write: a DYNAMIC partition overwrite
    * rewrites exactly the `partitionCols` values present in `df` and
    * leaves every other partition under `path` untouched, so repeating
    * the same write (a retried ingestion, a replayed micro-batch)
    * replaces its own partitions instead of appending duplicates. The
    * mode is a per-writer option — no session-global conf mutation.
    * [[writeParquetPartitionedBy]] is the static form: it replaces the
    * whole table. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Read a hive-partitioned parquet tree; partition columns come back
    * typed via partition discovery. Filter on them BEFORE anything
    * else so Catalyst turns the predicate into partition pruning. */
  def readParquetPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path)

  /** Globally-ordered parquet export without a single-node sort:
    * range-partition on the sort key (sampled split points), then sort
    * within each partition. File i's keys all precede file i+1's
    * (lexicographic part numbering), so downstream consumers get a
    * merge-readable / binary-searchable archive while every executor
    * sorts only its own slice — the only way "write it sorted" scales
    * to 100 TB. Also the layout that makes parquet min/max row-group
    * stats selective for later point reads. */
  def writeSortedParquet(df: DataFrame, path: String, numPartitions: Int,
      sortCols: Seq[String]): Unit = {
    df.repartitionByRange(numPartitions, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, numPartitions: Int, codec: Option[String] = None): Unit = {
    val w = df.repartition(numPartitions).write.mode(SaveMode.Overwrite)
    codec.fold(w)(c => w.option("compression", c)).orc(path)
    writeMeta(df.sparkSession, path, "orc")
  }

  /** Emit the `.meta` sidecar equivalent: `_graft_meta.json` in the
    * output directory with `n_records` total and per-file counts.
    *
    * Fully executor-side: per-file counts are a distributed aggregate
    * on input_file_name, and the JSON document itself is assembled
    * inside a SINGLE-partition mapPartitions and written with Spark's
    * text writer — the driver never holds the (file, count) list. A
    * 100 TB output is ~10⁵–10⁶ files; that list belongs on an
    * executor, not in driver heap. The only driver action is renaming
    * the one part file to its sidecar name (the standard single-file
    * commit pattern; on HDFS/S3 the same move goes through the
    * FileSystem API). */
  def writeMeta(spark: SparkSession, path: String, format: String, header: Boolean = false): Unit = {
    val df = format match {
      case "json"    => spark.read.json(path)
      case "csv"     => spark.read.option("header", header.toString).csv(path)
      case "parquet" => spark.read.parquet(path)
      case "orc"     => spark.read.orc(path)
      case _         => spark.read.text(path)
    }
    import spark.implicits._
    val doc = df
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_records"))
      .select(regexp_extract(col("file"), "[^/]+$", 0).as("file"), col("n_records"))
      .repartition(1)
      .sortWithinPartitions("file")
      .as[(String, Long)]
      .mapPartitions { it =>
        val entries = it.toVector
        val total = entries.map(_._2).sum
        val body = entries.map { case (f, n) => s"""    {"file": "$f", "n_records": $n}""" }
        Iterator.single(
          body.mkString(s"""{\n  "n_records": $total,\n  "files": [\n""", ",\n", "\n  ]\n}"))
      }
    val tmp = path + "/_graft_meta_tmp"
    doc.write.mode(SaveMode.Overwrite).text(tmp)
    val tmpDir = new java.io.File(tmp)
    val part = tmpDir.listFiles().filter(_.getName.startsWith("part-")) match {
      case Array(p) => p
      case ps       => sys.error(s"expected exactly one sidecar part file, got ${ps.length}")
    }
    java.nio.file.Files.move(part.toPath, new java.io.File(path, "_graft_meta.json").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmpDir.listFiles().foreach(_.delete())
    tmpDir.delete()
  }

  /** Read the sidecar's total count without scanning data — shmr's
    * `Partition.n_records` fast path. */
  def readMetaCount(path: String): Option[Long] = {
    val p = new java.io.File(path, "_graft_meta.json")
    if (!p.exists()) None
    else {
      val s = java.nio.file.Files.readString(p.toPath)
      """"n_records":\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    }
  }

  /** LITERAL shmr output-layout contract (reference misc.py:24-47
    * `create_filepath_template` + partition_writer.py
    * `on_close_delete_if_empty`): rename the committed data files to
    * the shmr name template — `*`, `{}` and `{auto}` all expand to
    * the zero-padded `{auto:05d}` counter, assigned in lexicographic
    * part-file order; `{stem}` keeps the original file's stem — and
    * with `deleteEmpty` remove record-less partitions first
    * (the files the sidecar's record scan saw no rows in; works for
    * compressed outputs where file size can't tell). The sidecar's
    * file entries are rewritten to the final names.
    *
    * Driver-side file-METADATA pass only (list/rename/delete — no
    * data read): this is the single-host shmr layout contract for
    * CLI outputs; cluster-scale outputs use the hive / sorted /
    * Z-order layouts instead. Returns the final data file names in
    * counter order. */
  def shmrLayout(path: String, template: String = "part-{auto}",
      deleteEmpty: Boolean = false): Seq[String] = {
    val dir = new java.io.File(path)
    require(dir.isDirectory, s"not an output directory: $path")
    def isData(f: java.io.File): Boolean =
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        !f.getName.endsWith(".crc")
    val metaFile = new java.io.File(dir, "_graft_meta.json")
    val entryRe = """\{"file": "([^"]+)", "n_records": (\d+)\}""".r
    val nonEmpty: Option[Set[String]] =
      if (metaFile.exists())
        Some(entryRe.findAllMatchIn(java.nio.file.Files.readString(metaFile.toPath))
          .map(_.group(1)).toSet)
      else None
    val all = dir.listFiles().filter(isData).sortBy(_.getName).toSeq
    val kept =
      if (!deleteEmpty) all
      else {
        val ne = nonEmpty.getOrElse(sys.error(
          "delete-on-empty needs the _graft_meta.json sidecar (library writers emit it)"))
        val (keep, drop) = all.partition(f => ne.contains(f.getName))
        drop.foreach(_.delete())
        keep
      }
    val tmpl = template.replace("*", "{auto}").replace("{}", "{auto}")
    val targets = kept.zipWithIndex.map { case (f, i) =>
      val stem = f.getName.takeWhile(_ != '.')
      val ext = f.getName.dropWhile(_ != '.')
      var name = tmpl.replace("{auto}", f"$i%05d").replace("{stem}", stem)
      if (!name.contains('.')) name += ext // template without extension keeps the file's
      f -> name
    }
    // refuse before touching anything: a template without a counter
    // ("fixed.jsonl") over multiple files would overwrite them
    require(targets.map(_._2).distinct.length == targets.length,
      s"name template '$template' collides for ${targets.length} files — include {auto} or {stem}")
    // a target may also equal a file we are NOT renaming (the sidecar,
    // a stray non-data file) — refuse rather than overwrite it
    val untouched = dir.listFiles().map(_.getName).toSet -- kept.map(_.getName)
    val clashes = targets.map(_._2).filter(untouched.contains)
    require(clashes.isEmpty,
      s"template '$template' would overwrite existing non-renamed files: ${clashes.mkString(", ")}")
    // two-phase rename: a target name can equal ANOTHER source file's
    // CURRENT name (dir with 'aaa.json' + a literal 'part-00000.json'
    // under 'part-{auto}') — a direct move would destroy that
    // not-yet-renamed file. Stage every source under a unique temp
    // name first; phase 2 then moves into a directory where no source
    // name survives, so no move can clobber data.
    //
    // Fail fast on leftover stage files: a crash between the phases
    // strands data under dot-prefixed names that isData() excludes, so
    // a blind rerun would silently lay out FEWER files. Recovery is
    // manual and lossless — every .__graft_stage_* file IS a complete
    // data file; rename it back to any data name and rerun.
    val leftovers = dir.listFiles().map(_.getName)
      .filter(_.startsWith(".__graft_stage_")).sorted
    require(leftovers.isEmpty,
      s"interrupted layout pass left staged data files (${leftovers.mkString(", ")}) — " +
        "rename them back to data names (each is a complete data file) before re-running")
    val staged = targets.zipWithIndex.map { case ((f, name), i) =>
      val tmp = new java.io.File(dir, f".__graft_stage_$i%05d")
      java.nio.file.Files.move(f.toPath, tmp.toPath)
      (f.getName, tmp, name)
    }
    val renames = staged.map { case (orig, tmp, name) =>
      java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, name).toPath)
      orig -> name
    }
    if (metaFile.exists()) {
      val mapping = renames.toMap
      val doc = java.nio.file.Files.readString(metaFile.toPath)
      val rewritten = entryRe.replaceAllIn(doc, m =>
        scala.util.matching.Regex.quoteReplacement(
          mapping.get(m.group(1)) match {
            case Some(nn) => s"""{"file": "$nn", "n_records": ${m.group(2)}}"""
            // entry for a file not renamed this pass (deleted-empty
            // files never appear here — no rows, no entry): keep as-is
            case None     => m.matched
          }))
      java.nio.file.Files.writeString(metaFile.toPath, rewritten)
    }
    renames.map(_._2)
  }
}
