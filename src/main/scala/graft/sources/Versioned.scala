package graft.sources

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StructField, StructType}

import graft.operators.TableDiff
import graft.quality.Validate
import graft.streaming.EventStreams

/** A publish/append lost the single-writer race: the store's live
  * pointer moved (or another writer claimed the commit slot) while
  * this writer staged. The store is untouched by the loser; the safe
  * reaction is to replay the drop against the new live state —
  * [[Versioned.mergeRetry]] / [[graft.dedup.ClusterLedger.appendRetry]]
  * package exactly that. */
final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** Write-audit-publish corpus promotion on plain parquet — the
  * poor-man's table format (SURVEY.md §2.2/22bh).
  *
  * A corpus version is an immutable directory `v%05d` under a table
  * root; `_manifest.json` is the single mutable object and names the
  * live version. Promotion stages the candidate to a private
  * directory, audits WHAT WAS ACTUALLY WRITTEN (the staged files are
  * re-read for validation — a writer bug that corrupts encoding is
  * caught here, not by auditing the in-memory frame), and only then
  * swaps the manifest pointer with an atomic rename. Consequences:
  *
  *  - a failed audit leaves the live pointer untouched and removes
  *    the staging directory — readers never knew the candidate
  *    existed;
  *  - a reader that resolved the manifest keeps a consistent snapshot
  *    for the whole query, because version directories are never
  *    mutated and [[vacuum]] retains the previous version by default
  *    (in-flight readers of version N−1 survive a promotion to N);
  *  - a crashed promotion leaves at most a stale `_staging_*`
  *    directory (nonce-suffixed, so a retry never collides with it),
  *    which [[vacuum]] sweeps — never a half-written live version;
  *  - every publish (promote or rollback) appends an IMMUTABLE
  *    `_v%05d.json` entry to the manifest chain — [[versions]] lists
  *    it, [[readVersion]] time-travels through it, [[rollback]]
  *    re-publishes an old version's directory as a NEW version (the
  *    audit trail records the rollback; history is never rewritten),
  *    and [[vacuum]] GCs directories outside the retention window
  *    while keeping the chain entries so a vacuumed version reads as
  *    "vacuumed", not "unknown".
  *
  * The audit has two gates: a [[Validate.Check]] expectation suite
  * (every rule must report 0 violations) and an optional
  * [[DiffGate]] — refuse when more than `maxChangedPerMille` of the
  * LIVE corpus' keys changed or disappeared
  * ([[TableDiff.snapshotDiff]] stats), the fat-finger guard against
  * promoting a truncated or mis-joined rebuild over a good corpus.
  * Both gates collect only audit-sized rows (one per rule / one per
  * diff status).
  *
  * Scale note: the manifest rename is atomic on POSIX and HDFS; on
  * object stores without atomic rename, point the manifest write at a
  * consistent metadata service (the same caveat every manifest-based
  * table format carries). Data files are written once and never
  * renamed across directories by the publish step — the staging
  * directory becomes the version directory with one directory-level
  * rename, so publish cost is O(1) regardless of corpus size. */
object Versioned {
  import CommitSlot.rmTree

  /** The live pointer: monotonically increasing version, its
    * directory (relative to the root), and the directory it
    * superseded (kept for in-flight readers and [[rollback]]).
    * Bucketed tables ([[promoteBucketed]]/[[merge]]) additionally
    * carry a [[BucketSpec]]. `ts` is the publish wall-clock (epoch
    * millis, stamped by [[writeManifest]]) — [[readAsOf]]'s axis;
    * 0 on chain entries written before the field existed (treated as
    * predating every queryable instant). */
  final case class Manifest(version: Int, path: String, previous: Option[String],
      buckets: Option[BucketSpec] = None, ts: Long = 0L)

  /** Layout contract of a bucketed table: the merge key (COMPOSITE
    * keys are comma-joined column names, e.g. `"source,doc_id"` —
    * [[BucketSpec.keys]] splits them; a single key has no comma, so
    * pre-composite manifests parse unchanged), the bucket count fixed
    * at creation (keys hash to buckets — changing the count strands
    * rows; [[rebucket]] is the disciplined remedy), the exact live
    * row count (maintained by every publish, giving [[merge]] its
    * O(1) fat-finger gate), and `owner(b)` = the version directory
    * holding bucket b's current content ("" = bucket is empty). A
    * merge rewrites only the owner entries of its touched buckets;
    * every other bucket keeps reading the files an earlier version
    * wrote — byte-for-byte untouched. `zones` names the
    * integral/string/date columns every publish writes per-file
    * [min, max] zone maps for (inside each version directory's
    * `_zonemap`), consulted by [[readRange]]. `schemaB64` carries the
    * WIDENED data schema (base64 of Spark's own StructType JSON,
    * `bkt` excluded) so the serving paths ([[lookup]], [[merge]],
    * [[readRangeAll]]) never re-derive it by footer reads over every
    * owning directory; manifests written before the field existed
    * degrade to the footer path. `deltas` are the PENDING merge-on-read
    * layers ([[patch]] publishes, oldest first — each a version
    * directory of raw drop rows with their `__del` markers that every
    * read reconciles over the base owner map; folded back into the
    * base by the next [[merge]]/[[foldDeltas]]/[[compact]]);
    * `deltaRows` records each layer's row count so serving reads can
    * size their broadcast hints without opening the layer. */
  final case class BucketSpec(key: String, numBuckets: Int, rows: Long, owner: Vector[String],
      zones: Seq[String] = Nil, schemaB64: Option[String] = None,
      bloomBits: Int = 0, deltas: Seq[String] = Nil, deltaRows: Seq[Long] = Nil) {
    /** The merge key columns, in layout order. */
    def keys: Seq[String] = key.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Refuse promotion when (changed + removed) keys exceed
    * `maxChangedPerMille`/1000 of the live corpus' rows. `key` and
    * `content` are column names present in both the live and staged
    * frames. */
  final case class DiffGate(key: String, content: String, maxChangedPerMille: Long)

  /** Audit outcome. `violations` is (rule → count), `diffStats` is
    * (status → count) when a [[DiffGate]] ran against a live version;
    * `reason` is set iff the promotion was refused. */
  final case class PromoteReport(
      promoted: Boolean,
      version: Int,
      path: String,
      violations: Seq[(String, Long)],
      diffStats: Seq[(String, Long)],
      reason: Option[String])

  private def manifestFile(root: String) = new File(root, "_manifest.json")
  private def versionFile(root: String, v: Int) = new File(root, f"_v$v%05d.json")

  private def render(m: Manifest): String = {
    val prev = m.previous.map(p => "\"" + p + "\"").getOrElse("null")
    val ts = if (m.ts > 0) s""", "ts": ${m.ts}""" else ""
    val bkts = m.buckets.map { b =>
      s""", "key": "${b.key}", "numBuckets": ${b.numBuckets}, "rows": ${b.rows}, """ +
        s""""owner": [${b.owner.map(o => "\"" + o + "\"").mkString(",")}]""" +
        (if (b.zones.isEmpty) ""
         else s""", "zones": [${b.zones.map(z => "\"" + z + "\"").mkString(",")}]""") +
        b.schemaB64.map(s => s""", "schema": "$s"""").getOrElse("") +
        (if (b.bloomBits > 0) s""", "bloomBits": ${b.bloomBits}""" else "") +
        (if (b.deltas.isEmpty) ""
         else s""", "deltas": [${b.deltas.map(d => "\"" + d + "\"").mkString(",")}]""" +
           s""", "deltaRows": [${b.deltaRows.mkString(",")}]""")
    }.getOrElse("")
    s"""{"version": ${m.version}, "path": "${m.path}", "previous": $prev$ts$bkts}"""
  }

  private val VersionRe = """"version"\s*:\s*(\d+)""".r.unanchored
  private val PathRe = """"path"\s*:\s*"([^"]+)"""".r.unanchored
  private val PrevRe = """"previous"\s*:\s*"([^"]+)"""".r.unanchored
  private val KeyRe = """"key"\s*:\s*"([^"]+)"""".r.unanchored
  private val NumBucketsRe = """"numBuckets"\s*:\s*(\d+)""".r.unanchored
  private val RowsRe = """"rows"\s*:\s*(\d+)""".r.unanchored
  private val OwnerRe = """"owner"\s*:\s*\[([^\]]*)\]""".r.unanchored
  private val ZonesRe = """"zones"\s*:\s*\[([^\]]*)\]""".r.unanchored
  private val SchemaRe = """"schema"\s*:\s*"([A-Za-z0-9+/=]+)"""".r.unanchored
  private val TsRe = """"ts"\s*:\s*(\d+)""".r.unanchored
  private val BloomBitsRe = """"bloomBits"\s*:\s*(\d+)""".r.unanchored
  private val DeltasRe = """"deltas"\s*:\s*\[([^\]]*)\]""".r.unanchored
  private val DeltaRowsRe = """"deltaRows"\s*:\s*\[([^\]]*)\]""".r.unanchored

  private def parseManifest(f: File): Manifest = {
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val v = text match { case VersionRe(n) => n.toInt case _ => sys.error(s"bad manifest: $text") }
    val p = text match { case PathRe(s) => s case _ => sys.error(s"bad manifest: $text") }
    val prev = text match { case PrevRe(s) => Some(s) case _ => None }
    val buckets = (text, text, text, text) match {
      case (KeyRe(k), NumBucketsRe(nb), RowsRe(r), OwnerRe(own)) =>
        val owner = own.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toVector
          .take(nb.toInt).padTo(nb.toInt, "")
        val zones = text match {
          case ZonesRe(zs) =>
            zs.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
              .filter(_.nonEmpty)
          case _ => Nil
        }
        val schema = text match { case SchemaRe(s) => Some(s) case _ => None }
        val bloom = text match { case BloomBitsRe(bb) => bb.toInt case _ => 0 }
        val deltas = text match {
          case DeltasRe(ds) =>
            ds.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
              .filter(_.nonEmpty)
          case _ => Nil
        }
        val deltaRows = text match {
          case DeltaRowsRe(dr) =>
            dr.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
          case _ => Nil
        }
        Some(BucketSpec(k, nb.toInt, r.toLong, owner, zones, schema, bloom,
          deltas, deltaRows))
      case _ => None
    }
    val ts = text match { case TsRe(t) => t.toLong case _ => 0L }
    Manifest(v, p, prev, buckets, ts)
  }

  /** The live manifest, if the table exists. */
  def currentManifest(root: String): Option[Manifest] = {
    val f = manifestFile(root)
    if (!f.exists()) None else Some(parseManifest(f))
  }

  /** The full manifest CHAIN: every version ever published (promote or
    * rollback), ascending. Each version's `_v%05d.json` is written
    * once at publish and never mutated — a rollback never rewrites
    * history, it appends to it. Tables created before per-version
    * manifests existed fall back to directory-name reconstruction. */
  def versions(root: String): Seq[Manifest] = {
    val files = Option(new File(root).listFiles()).getOrElse(Array.empty)
    val chain = files.filter(f => f.isFile && f.getName.matches("_v\\d{5}\\.json"))
      .map(parseManifest).sortBy(_.version).toSeq
    if (chain.nonEmpty) chain
    else // pre-r11 table: version = directory name, chain unknown
      files.filter(f => f.isDirectory && f.getName.matches("v\\d{5}"))
        .map(d => Manifest(d.getName.stripPrefix("v").toInt, d.getName, None))
        .sortBy(_.version).toSeq
  }

  /** Atomic pointer swap: write beside, rename over. Also records the
    * version's immutable `_v%05d.json` chain entry, stamped with the
    * publish wall-clock ([[readAsOf]]'s axis). The stamp is clamped to
    * stay strictly above every earlier chain entry's: a wall-clock
    * regression must not stamp version N+1 before version N, or
    * [[readAsOf]] at an instant between the stamps would resolve to a
    * version that had not yet been published at that wall-clock (the
    * same monotonicity adjustment Delta-style formats apply to commit
    * timestamps). */
  private def writeManifest(root: String, m0: Manifest): Unit = {
    // O(1): the live manifest's stamp IS the committed chain's max by
    // this very clamp's invariant (orphan entries above the live
    // pointer are overwritten by their retry and never resolvable)
    val prevTs = currentManifest(root).map(_.ts).getOrElse(0L)
    val m = m0.copy(ts = math.max(System.currentTimeMillis(), prevTs + 1))
    // chain entry first: if we crash between the two writes, the live
    // pointer still names the old version and the orphan chain entry
    // is overwritten by the next publish of that version number
    java.nio.file.Files.write(versionFile(root, m.version).toPath,
      render(m).getBytes("UTF-8"))
    CommitSlot.at("versioned.chain")
    val tmp = new File(root, s"_manifest.json.tmp${System.nanoTime()}")
    java.nio.file.Files.write(tmp.toPath, render(m).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, manifestFile(root).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the streaming log's visible mirror — AFTER the pointer move so
    // the feed only ever names committed versions; self-healing for
    // any gap a predecessor's crash left (see syncFeed)
    syncFeed(root)
  }

  /** Mirror committed chain entries into `feed/` — the table's
    * streaming LOG. Chain entries are `_`-prefixed (hidden from Spark
    * file listings by design); the feed copies each COMMITTED
    * version's entry under a visible name (`feed/v%05d.json`) so
    * Structured Streaming's file source can tail the table with its
    * own checkpointed exactly-once offsets ([[changeFeedStream]]).
    * Runs AFTER every manifest move and backfills any gap a crashed
    * predecessor left (publish crashed between its manifest move and
    * its feed write), so the feed is self-healing: eventually every
    * version ≤ live has exactly one feed entry, written once and
    * never mutated. Pre-feed tables backfill on their next publish,
    * or explicitly via [[syncFeed]]. */
  def syncFeed(root: String): Unit = {
    val liveV = currentManifest(root).map(_.version).getOrElse(return)
    val feed = new File(root, "feed")
    feed.mkdirs()
    // entries are written ASCENDING and each call backfills up to
    // live, so existing entries form a contiguous prefix — start from
    // its end: one directory listing, O(missing) writes per publish
    // instead of an O(chain) stat sweep
    val highest = Option(feed.listFiles()).getOrElse(Array.empty)
      .flatMap(f => "^v(\\d{5})\\.json$".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .maxOption.getOrElse(0)
    if (highest >= liveV) return
    for (m <- versions(root) if m.version > highest && m.version <= liveV) {
      val f = new File(feed, f"v${m.version}%05d.json")
      // write-beside + atomic rename; REPLACE_EXISTING because a
      // publisher's post-commit sync can race a consumer's
      // stream-start sync on the same entry — both render the same
      // committed manifest, so last-write-wins is byte-identical and
      // neither side may throw (a publisher throwing AFTER its
      // pointer swap would report a committed publish as failed)
      val tmp = new File(feed, f".v${m.version}%05d.json.tmp${System.nanoTime()}")
      java.nio.file.Files.write(tmp.toPath, render(m).getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Streaming change-feed SOURCE — subscribe to this table's
    * publishes: one streaming row per committed version (the raw feed
    * entry), delivered EXACTLY ONCE per checkpoint by the file
    * source's own offset log over the `feed/` directory. Compose with
    * [[startChangeFeed]] for the per-key diff form, or consume the
    * version numbers directly. The manifest chain is the log; the
    * feed directory is its listing-visible mirror ([[syncFeed]]). */
  def changeFeedStream(spark: SparkSession, root: String): DataFrame = {
    syncFeed(root) // a stream started on a pre-feed table sees history
    spark.readStream.text(new File(root, "feed").getPath)
  }

  /** Tail the table as a stream of CHANGE ROWS: for every newly
    * published version v, emit `diffVersions(v-1, v)` (the first
    * chain version diffs against empty — all rows `added`), each row
    * stamped with its `version`, handed to `sink` per micro-batch.
    * Offsets ride the file source's checkpoint, so a restarted stream
    * resumes after the last version it processed and a replayed batch
    * re-presents the same rows with the same batchId — make the sink
    * idempotent on (version, key), the
    * [[graft.streaming.EventStreams.eachBatch]] contract.
    * Consume within the vacuum retention window (a diff against a
    * vacuumed version fails loudly, like any time travel). */
  def startChangeFeed(spark: SparkSession, root: String, checkpoint: String,
      key: Column, content: Column, keyName: String = "key",
      trigger: Trigger = Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    EventStreams.eachBatch(changeFeedStream(spark, root), checkpoint, trigger = trigger) {
      (batch, batchId) =>
        // versions whose DATA was vacuumed are skipped (their diffs
        // are unrecoverable pre-retention history); a readable version
        // whose PREDECESSOR is unreadable emits as an INITIAL SNAPSHOT
        // (every row `added`) — the Delta-style pattern that lets a
        // consumer start on a table whose early history was vacuumed
        val usable = feedVersions(batch).filter(v => versionReadable(root, v))
        if (usable.nonEmpty) {
          val diffs = usable.map { v =>
            val d =
              if (versionReadable(root, v - 1))
                diffVersions(spark, root, v - 1, v, key, content, keyName)
              else {
                val snap = readVersion(spark, root, v)
                TableDiff.snapshotDiff(snap.limit(0), snap, key, key,
                  content, content, keyName = keyName)
              }
            d.withColumn("version", lit(v))
          }
          sink(diffs.reduce(_ unionByName _), batchId)
        }
    }

  /** The versions one change-feed micro-batch carries, ascending. */
  private def feedVersions(batch: DataFrame): Seq[Int] =
    batch.collect().toSeq.map(_.getString(0)).collect { case VersionRe(v) => v.toInt }.sorted

  /** REPLICATE `srcRoot` into `dstRoot` by tailing the source's
    * change feed — the composition the feed exists for: a downstream
    * copy (another cluster's serving replica, a dev fork) stays
    * current at DELTA cost without polling `versions()`.
    *
    * Each published source version applies in order: the FIRST as a
    * full bucketed publish cloning the source's layout contract
    * (key, buckets, zones, blooms); every later one as a [[merge]]
    * drop derived from the (v-1 → v) delta — upserts are the rows
    * whose content changed or appeared (the source snapshot conformed
    * against its predecessor, so schema evolution replicates: a
    * widened source widens the replica at drop cost), deletes are the
    * keys that vanished. Layout-only source publishes (compact,
    * rebucket) produce an empty delta and apply as nothing — the
    * replica mirrors CONTENT, its own layout maintenance is its own.
    *
    * Exactly-once: offsets ride the file source's checkpoint and a
    * re-applied version's merge is idempotent (same drop over the
    * same parent → same rows), so a crash between apply and
    * checkpoint-advance cannot double-apply or tear. */
  def replicateStream(spark: SparkSession, srcRoot: String, dstRoot: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    EventStreams.eachBatch(changeFeedStream(spark, srcRoot), checkpoint, trigger = trigger) {
      (batch, _) => feedVersions(batch).foreach(v => applyVersion(spark, srcRoot, dstRoot, v))
    }

  /** Is version v's DATA still readable (published and not
    * vacuumed)? Bucketed versions need every owner directory. */
  private def versionReadable(root: String, v: Int): Boolean =
    versions(root).find(_.version == v).exists { m =>
      val needed = m.buckets.map(_.owner.filter(_.nonEmpty).distinct)
        .getOrElse(Seq(m.path))
      needed.nonEmpty && needed.forall(dir => new File(root, dir).exists())
    }

  /** Apply source version v to the replica (see [[replicateStream]]).
    * Resilient by construction: a version whose data was vacuumed is
    * SKIPPED (a later readable version resyncs past it), and when the
    * predecessor v-1 is unreadable — a vacuumed history, or v being
    * the first version replayed after a bootstrap crashed before its
    * checkpoint committed — the delta is computed against the
    * REPLICA's own current content instead (a resync: same merge
    * shape, provably convergent, and an exact no-op when the replica
    * already holds v). */
  private def applyVersion(spark: SparkSession, srcRoot: String, dstRoot: String,
      v: Int): Unit = {
    val m = versions(srcRoot).find(_.version == v).getOrElse(return)
    if (!versionReadable(srcRoot, v)) return // vacuumed history: resync at a later version
    val snap = readVersion(spark, srcRoot, v)
    currentManifest(dstRoot) match {
      case None =>
        val spec = m.buckets.getOrElse(sys.error(
          s"replication needs a bucketed source — $srcRoot v$v has no layout contract"))
        val r = promoteBucketed(snap, dstRoot, spec.key, spec.numBuckets,
          zoneCols = spec.zones, keyBloomBits = spec.bloomBits)
        require(r.promoted, s"replica bootstrap refused: ${r.reason.getOrElse("")}")
      case Some(_) =>
        val keys = m.buckets.map(_.keys).getOrElse(sys.error(
          s"replication needs a bucketed source — $srcRoot v$v has no layout contract"))
        val prev =
          if (versionReadable(srcRoot, v - 1)) readVersion(spark, srcRoot, v - 1)
          else read(spark, dstRoot) // resync: delta vs the replica itself
        // conform the predecessor to the current snapshot's (possibly
        // widened) schema so "changed" is judged in one shape and new
        // columns replicate as evolution
        val prevConformed = snap.limit(0).unionByName(prev, allowMissingColumns = true)
        val upserts = snap.exceptAll(prevConformed)
          .withColumn("__del", lit(false))
        val deletes = prevConformed
          .join(snap.select(keys.map(col): _*), keys, "left_anti")
          .select(snap.columns.map(c =>
            if (keys.contains(c)) col(c) else lit(null).cast(snap.schema(c).dataType).as(c)): _*)
          .withColumn("__del", lit(true))
        val drop = upserts.unionByName(deletes)
        if (!drop.isEmpty) {
          val r = merge(drop, dstRoot, deleted = col("__del"))
          require(r.merged, s"replica apply of v$v refused: ${r.reason.getOrElse("")}")
        }
    }
  }

  /** The live version's data. Fails if the table has never been
    * promoted. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val m = currentManifest(root).getOrElse(sys.error(s"no live version under $root"))
    readManifestData(spark, root, m)
  }

  /** Time travel: the data as of version `v` — resolved through the
    * manifest chain, so it works for rollback-published versions whose
    * directory name differs from the version number. Fails loudly when
    * the version was never published or its directory was vacuumed. */
  def readVersion(spark: SparkSession, root: String, v: Int): DataFrame = {
    val m = versions(root).find(_.version == v)
      .getOrElse(sys.error(s"version $v was never published under $root"))
    readManifestData(spark, root, m)
  }

  /** The chain version live AS OF `tsMillis` (latest publish stamp ≤
    * the instant; entries predating the `ts` field count as older
    * than everything). None when the instant predates the first
    * publish. Chain entries ABOVE the live pointer are ignored: a
    * publish that crashed between its chain-entry write and the
    * manifest swap leaves a stamped entry for a version no reader
    * ever resolved — as-of must not time-travel to it (a retry that
    * republishes the version number overwrites the orphan). */
  def versionAsOf(root: String, tsMillis: Long): Option[Int] = {
    // no live manifest = no version was ever resolvable by any
    // reader — a first-publish crash at the 'chain' point leaves an
    // orphan _v00001.json that as-of must NOT serve
    val liveV = currentManifest(root).map(_.version).getOrElse(return None)
    val eligible = versions(root).filter(m => m.ts <= tsMillis && m.version <= liveV)
    if (eligible.isEmpty) None else Some(eligible.maxBy(_.version).version)
  }

  /** Timestamp time travel (the `TIMESTAMP AS OF` read every
    * manifest-chain table format offers): the data as the table stood
    * at `tsMillis` — resolved to the LATEST chain entry whose publish
    * stamp is ≤ the instant, then read like [[readVersion]] (so it
    * fails loudly when that version's directories were vacuumed, and
    * it sees rollbacks as the publishes they are: an instant after a
    * rollback reads the rolled-back-to content). A publish's stamp is
    * its manifest write — the first moment any reader could have
    * resolved it, so as-of semantics match what a reader at that
    * wall-clock actually saw. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame = {
    val v = versionAsOf(root, tsMillis).getOrElse(sys.error(
      s"nothing was live under $root at $tsMillis — the instant predates the first publish " +
        s"(earliest stamped publish: ${versions(root).map(_.ts).filter(_ > 0).minOption
          .getOrElse("none recorded")})"))
    readVersion(spark, root, v)
  }

  private def readManifestData(spark: SparkSession, root: String, m: Manifest): DataFrame =
    m.buckets match {
      case Some(spec) => assembleBuckets(spark, root, m.version, spec)
      case None =>
        val dir = new File(root, m.path)
        require(dir.exists(),
          s"version ${m.version}'s data (${m.path}) was vacuumed — retained versions: " +
            versions(root).filter(x => new File(root, x.path).exists())
              .map(_.version).mkString(", "))
        spark.read.parquet(dir.getPath)
    }

  /** Assemble a bucketed version from its owner map: one
    * partition-pruned scan per distinct owning directory (≤
    * min(publishes, numBuckets) of them), unioned; any pending
    * [[patch]] delta layers are then folded over the base
    * ([[applyDeltas]] — newest layer wins per key); `bkt` stays an
    * internal layout column and is dropped from the result. */
  private def assembleBuckets(spark: SparkSession, root: String, version: Int,
      spec: BucketSpec): DataFrame = {
    val byDir = spec.owner.zipWithIndex.filter(_._1.nonEmpty).groupBy(_._1)
    require(byDir.nonEmpty || spec.deltas.nonEmpty,
      s"bucketed version $version has no non-empty buckets")
    (byDir.keys ++ spec.deltas).foreach { dir =>
      require(new File(root, dir).exists(),
        s"version $version reads bucket data from $dir, which was vacuumed")
    }
    // a manifest-recorded schema reads every directory in the widened
    // shape directly (parquet null-fills missing columns by name, no
    // footer inference); older manifests union by name instead
    val reader = spec.schemaB64 match {
      case Some(b64) => spark.read.schema(StructType(
        (decodeSchema(b64) :+ StructField("bkt", IntegerType)).toArray))
      case None => spark.read
    }
    val parts = byDir.toSeq.sortBy(_._1).map { case (dir, entries) =>
      reader.parquet(new File(root, dir).getPath)
        .filter(col("bkt").isin(entries.map(_._2): _*))
    }
    // allowMissingColumns: after an add-column merge, older directories
    // lack the new columns and read as null; dir-name order (= publish
    // order) keeps the unioned column order deterministic (old first)
    val base = parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        // every bucket merged/patched empty: the live content is
        // entirely in the delta layers (schemaB64 is always recorded
        // by the patch that created them)
        val fields = spec.schemaB64.map(decodeSchema).getOrElse(sys.error(
          s"bucketed version $version has no base directories and no recorded schema"))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType((fields :+ StructField("bkt", IntegerType)).toArray))
      }
    val unioned =
      if (spec.deltas.isEmpty) base
      else applyDeltas(spark, root, spec, base)
    unioned.select(unioned.columns.filter(_ != "bkt").map(col): _*)
  }

  /** A serving read's broadcast ceiling for delta-layer key frames:
    * layers at or under this many rows (per the manifest's
    * `deltaRows`) hint `broadcast` into the shadowing anti-joins —
    * the 100 TB story of merge-on-read: a small patch reconciles as a
    * broadcast anti-join over the base scan, never a table-sized
    * shuffle. Larger layers fall back to a shuffle join (results
    * identical); [[foldDeltas]] is the remedy. */
  private val DeltaBroadcastMaxRows = 5000000L

  /** The widened read schema of a DELTA layer directory: the table's
    * data columns plus the `__del` marker and the `bkt` layout column
    * (parquet null-fills columns a layer predates, by name). */
  private def deltaReadSchema(fields: Seq[StructField]): StructType =
    StructType((fields ++ Seq(StructField("__del", BooleanType),
      StructField("bkt", IntegerType))).toArray)

  /** Fold the manifest's pending delta layers over an assembled base
    * frame (both carrying `bkt`), oldest layer first: each layer's
    * keys SHADOW everything beneath them (an anti-join drops the
    * stale rows), then the layer's surviving upserts union back in —
    * so the newest occurrence of a key wins and a newest-`__del` key
    * is gone, exactly the sequential-merge semantics. Layer key
    * frames broadcast when the manifest's recorded row count allows
    * ([[DeltaBroadcastMaxRows]]). */
  private def applyDeltas(spark: SparkSession, root: String, spec: BucketSpec,
      base: DataFrame): DataFrame = {
    val fields = spec.schemaB64.map(decodeSchema).getOrElse(sys.error(
      s"table under $root has delta layers but no recorded schema — " +
        "patch always records one; the manifest was hand-edited"))
    val schema = deltaReadSchema(fields)
    val keys = spec.keys
    spec.deltas.zipWithIndex.foldLeft(base) { case (acc, (dir, i)) =>
      val layer = spark.read.schema(schema).parquet(new File(root, dir).getPath)
      val layerKeys = layer.select(keys.map(col): _*)
      val hinted =
        if (spec.deltaRows.lift(i).forall(_ <= DeltaBroadcastMaxRows)) broadcast(layerKeys)
        else layerKeys
      acc.join(hinted, keys, "left_anti")
        .unionByName(layer.filter(!col("__del")).drop("__del"),
          allowMissingColumns = true)
    }
  }

  /** The NET effect of the pending delta layers, in the table's
    * widened shape (`allFields` + `__del` + `bkt`): per key, the
    * newest layer's row — an upsert or a delete marker. Used by
    * [[merge]] to fold the layers into its rewrite and by the
    * accounting pre-image. Layers are patch-sized by contract, so the
    * per-key window runs over a small frame (a row_number window, not
    * GroupTopK — the input is delta-sized, never table-sized). */
  private def netDelta(spark: SparkSession, root: String, spec: BucketSpec,
      allFields: Seq[StructField]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val schema = deltaReadSchema(allFields)
    val layers = spec.deltas.zipWithIndex.map { case (dir, i) =>
      spark.read.schema(schema).parquet(new File(root, dir).getPath)
        .withColumn("__layer", lit(i))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(spec.keys.map(col): _*).orderBy(col("__layer").desc)
    layers.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__layer")
  }

  /** The bucket id column of a key tuple under the layout contract —
    * the one bucket hash every bucket store writes with (Versioned's
    * tables and [[graft.dedup.ClusterLedger]]'s labels). */
  private[graft] def bktCol(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(k => col(k).cast("string")): _*), lit(numBuckets)).cast("int")

  /** The bucket id of a key TUPLE under the layout contract, computed
    * DRIVER-SIDE through the very same Catalyst semantics the writers
    * evaluate ([[bktCol]]: cast-to-string per component → one
    * xxhash64(seed 42) folded left-to-right across components, a null
    * component leaving the running hash unchanged — exactly Spark's
    * multi-child XxHash64 — → pmod). One code path, zero Spark jobs:
    * the serving read must not pay a one-row job to hash its key. */
  private def keyHash(spark: SparkSession, keyValues: Seq[Any]): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64Function}
    keyValues.foldLeft(42L) { (seed, kv) =>
      val s = Cast(Literal(kv), org.apache.spark.sql.types.StringType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
      if (s == null) seed
      else XxHash64Function.hash(s, org.apache.spark.sql.types.StringType, seed)
    }
  }

  /** [[bktCol]] of one key tuple, on the driver with zero jobs. */
  private[graft] def bktOf(spark: SparkSession, keyValues: Seq[Any], numBuckets: Int): Int = {
    val h = keyHash(spark, keyValues)
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  private def encodeSchema(fields: Seq[StructField]): String =
    java.util.Base64.getEncoder.encodeToString(
      StructType(fields.toArray).json.getBytes("UTF-8"))

  private def decodeSchema(b64: String): Seq[StructField] =
    DataType.fromJson(new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"))
      .asInstanceOf[StructType].fields.toSeq

  /** The table's widened data schema (`bkt` excluded): read from the
    * manifest when the publish that wrote it recorded one; manifests
    * predating the field fall back to the first-seen union of every
    * owning directory's parquet footer, in directory (= publish)
    * order — after an add-column merge, older directories simply lack
    * the new columns and read as null. */
  private def widenedFields(spark: SparkSession, root: String,
      spec: BucketSpec): Seq[StructField] = spec.schemaB64 match {
    case Some(b64) => decodeSchema(b64)
    case None =>
      val ownerDirs = spec.owner.filter(_.nonEmpty).distinct.sorted
      require(ownerDirs.nonEmpty,
        s"bucketed table under $root has no data directories (every bucket " +
          "was merged empty) — re-publish with promoteBucketed")
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
      for (dir <- ownerDirs;
           f <- spark.read.parquet(new File(root, dir).getPath).schema.fields
           if f.name != "bkt")
        if (!acc.contains(f.name)) acc(f.name) = f
      acc.values.toSeq
  }

  /** Zone maps store [min, max] per file in two type families:
    * integral columns as BIGINT, string/date columns as binary-ordered
    * strings (dates render as ISO `yyyy-MM-dd`, which sorts exactly
    * like the date). Anything else (double/decimal/timestamp) would
    * TRUNCATE under a long cast and silently violate the pruned ≡
    * plain contract — refused loudly at publish. */
  private[sources] def zoneBound(dt: DataType): String = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => "long"
    case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType => "string"
    case other => sys.error(
      s"zone maps support integral, string, and date columns; got $other — " +
        "a truncated bound would prune files that contain in-range rows")
  }

  /** The zone-bound family ("long" or "string") column `c` prunes
    * under, resolved from the LIVE layout's recorded schema — the
    * authoritative router for range reads, so a STRING column holding
    * numeric-looking values (zero-padded ids) is never compared
    * numerically against its binary-ordered bounds (which would drop
    * files containing in-range rows). None when the table is not
    * bucketed or the column is unknown to the live schema. */
  def zoneFamily(spark: SparkSession, root: String, c: String): Option[String] =
    for {
      m <- currentManifest(root)
      spec <- m.buckets
      f <- widenedFields(spark, root, spec).find(_.name == c)
    } yield zoneBound(f.dataType)

  /** Stage → audit → publish. Returns the report either way; the
    * manifest moves only on `promoted = true`. */
  def promote(
      df: DataFrame,
      root: String,
      checks: Seq[Validate.Check] = Seq.empty,
      diffGate: Option[DiffGate] = None): PromoteReport = {
    val spark = df.sparkSession
    new File(root).mkdirs()
    val startedMs = System.currentTimeMillis()
    val live = currentManifest(root)
    val version = live.map(_.version + 1).getOrElse(1)
    val (dirName, staging) = stagingFor(root, version)
    df.write.mode(SaveMode.Overwrite).parquet(staging.getPath)
    val staged = spark.read.parquet(staging.getPath)
    val (diffStats, diffReason) = diffGated(spark, root, live, diffGate, staged)
    val (viol, reason) = audit(checks, staged, diffReason)
    val promoted = settle(root, live, staging, dirName, startedMs, reason)(
      Manifest(version, dirName, live.map(_.path)))
    PromoteReport(promoted, version, dirName, viol, diffStats, reason)
  }

  /** The version slot's directory name and a fresh staging directory
    * for it — nonce-suffixed, so concurrent attempts (single-writer
    * violations the commit refuses) never clobber each other's
    * staging; crashed attempts leave orphans that [[vacuum]] sweeps. */
  private def stagingFor(root: String, version: Int): (String, File) = {
    val dirName = f"v$version%05d"
    (dirName, new File(root, s"_staging_${dirName}_${System.nanoTime()}"))
  }

  /** The one publish audit: the [[Validate.Check]] suite over the
    * staged rows (`validated` is read only when there are checks; every
    * rule must report 0 violations), then the publish's fat-finger
    * `gate`. Returns the violations and the refusal reason, if any. */
  private def audit(checks: Seq[Validate.Check], validated: => DataFrame,
      gate: Option[String]): (Seq[(String, Long)], Option[String]) = {
    val viol: Seq[(String, Long)] =
      if (checks.isEmpty) Seq.empty
      else Validate.violations(validated, checks).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val reason = viol.find(_._2 > 0)
      .map { case (rule, n) => s"validation: rule '$rule' has $n violations" }
      .orElse(gate)
    (viol, reason)
  }

  /** The whole-table publishes' gate: the [[DiffGate]] of the staged
    * rows against the live version — (status counts, refusal). */
  private def diffGated(spark: SparkSession, root: String, live: Option[Manifest],
      diffGate: Option[DiffGate], staged: DataFrame): (Seq[(String, Long)], Option[String]) =
    (live, diffGate) match {
      case (Some(m), Some(g)) =>
        val liveDf = readManifestData(spark, root, m)
        val stats = TableDiff.snapshotDiffStats(TableDiff.snapshotDiff(
          liveDf, staged, col(g.key), col(g.key), col(g.content), col(g.content)))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val byStatus = stats.toMap.withDefaultValue(0L)
        val liveRows = byStatus("unchanged") + byStatus("changed") + byStatus("removed")
        val moved = byStatus("changed") + byStatus("removed")
        val over = liveRows > 0 && moved * 1000L > g.maxChangedPerMille * liveRows
        (stats, if (over) Some(
          s"diff gate: $moved of $liveRows live keys changed/removed " +
            s"(> ${g.maxChangedPerMille} per mille)") else None)
      case _ => (Seq.empty, None)
    }

  /** The drop publishes' O(1) gate: refuse when the drop's updates +
    * deletes of existing keys exceed `maxChangedPerMille` of the
    * manifest's live row count. */
  private def changedGate(maxChangedPerMille: Option[Long], movedKeys: Long,
      liveRows: Long): Option[String] =
    maxChangedPerMille.collect {
      case pm if liveRows > 0 && movedKeys * 1000L > pm * liveRows =>
        s"merge gate: $movedKeys of $liveRows live keys changed/removed (> $pm per mille)"
    }

  /** Settle an audited publish: a refusal removes the staging
    * directory; otherwise [[CommitSlot.commit]] moves it into the
    * `dirName` slot, and the manifest swaps to `next` (evaluated after
    * the rename) before the claim is released. A lost race throws
    * [[ConcurrentWriteException]]. Returns whether it committed. */
  private def settle(root: String, startedAt: Option[Manifest], staging: File, dirName: String,
      startedMs: Long, reason: Option[String])(next: => Manifest): Boolean =
    if (reason.isDefined) { rmTree(staging); false }
    else {
      val from = startedAt.map(_.version)
      val claim = CommitSlot.commit(new File(root, s"_claim_$dirName"), startedMs, staging,
        new File(root, dirName), "versioned", () => currentManifest(root).map(_.version), from,
        (now: Option[Int]) =>
          s"concurrent publish detected under $root: live version moved " +
            s"${from.getOrElse("none")} -> ${now.getOrElse("none")} " +
            s"(or another writer holds the $dirName commit slot) while this publish " +
            "staged — the table is single-writer; retry against the new live version")
      CommitSlot.at("versioned.renamed")
      writeManifest(root, next)
      claim.release()
      true
    }

  /** [[merge]] outcome. `upserted`/`inserted`/`deleted` count drop
    * keys that updated an existing row / created a new one / removed
    * an existing one; `rewrittenBuckets` is the audit hook proving
    * merge cost stayed proportional to the drop. `reason` is set iff
    * the merge was refused (validation or the changed-rows gate) —
    * the live pointer did not move. */
  final case class MergeReport(
      merged: Boolean,
      version: Int,
      path: String,
      upserted: Long,
      inserted: Long,
      deleted: Long,
      rewrittenBuckets: Seq[Int],
      violations: Seq[(String, Long)],
      reason: Option[String])

  /** [[patch]] outcome: the same key accounting as [[MergeReport]]
    * (exact, against the reconciled pre-image) plus the table's
    * pending layer count AFTER this publish. `reason` is set iff the
    * patch was refused — the live pointer did not move. */
  final case class PatchReport(
      patched: Boolean,
      version: Int,
      path: String,
      upserted: Long,
      inserted: Long,
      deleted: Long,
      layers: Int,
      violations: Seq[(String, Long)],
      reason: Option[String])

  /** Publish a BUCKETED table version: the same stage → audit →
    * atomic-swap discipline as [[promote]], but the data is laid out
    * as `numBuckets` hash partitions of `key` so later drops can
    * [[merge]] by rewriting only their touched buckets. `key` may be
    * COMPOSITE — comma-joined column names (`"source,doc_id"`), the
    * (source, doc_id)-keyed corpus shape real table formats take as a
    * key column list; the tuple hashes through one multi-column
    * xxhash64 and every serving path ([[merge]], [[lookup]],
    * [[diffVersions]] callers) resolves the same list from the
    * manifest. The manifest records the layout contract
    * ([[BucketSpec]]) with every bucket owned by this version's
    * directory; the exact row count rides along for merge's O(1)
    * fat-finger gate. Re-running `promoteBucketed` later is the
    * full-rebuild path (every bucket re-owned — the "retrain"
    * analogue); [[merge]] is the drop path. */
  def promoteBucketed(
      df: DataFrame,
      root: String,
      key: String,
      numBuckets: Int,
      checks: Seq[Validate.Check] = Seq.empty,
      diffGate: Option[DiffGate] = None,
      zoneCols: Seq[String] = Nil,
      keyBloomBits: Int = 0,
      zoneCluster: Boolean = false): PromoteReport = {
    require(numBuckets > 0)
    require(keyBloomBits == 0 || (keyBloomBits > 0 && keyBloomBits % 64 == 0),
      "keyBloomBits must be 0 (disabled) or a positive multiple of 64")
    val keys = key.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    require(keys.nonEmpty, "merge key must name at least one column")
    keys.foreach(k => require(df.columns.contains(k),
      s"merge key column '$k' not in ${df.columns.mkString(", ")}"))
    require(zoneCols.forall(df.columns.contains),
      s"zone columns ${zoneCols.filterNot(df.columns.contains).mkString(", ")} not in the table")
    zoneCols.foreach(c => zoneBound(df.schema(c).dataType)) // integral/string/date only — loud
    val spark = df.sparkSession
    new File(root).mkdirs()
    val startedMs = System.currentTimeMillis()
    val live = currentManifest(root)
    val version = live.map(_.version + 1).getOrElse(1)
    val (dirName, staging) = stagingFor(root, version)
    // Cluster the staging write BY BUCKET before partitionBy when the
    // table carries no zone maps: a partitionBy("bkt") write emits one
    // file per (task, bucket) pair, so an unclustered M-task input
    // writes M×numBuckets near-empty files per publish (measured 512
    // at sf0.1) — the small-files explosion the optimization guide
    // (§6) warns about, paid again by every downstream bucket read.
    // One hash exchange on bkt lands each bucket in one task: exactly
    // numBuckets files, write parallelism = the layout's own scale
    // dial. (Production note: a bucket larger than the desired file
    // size splits via spark.sql.files.maxRecordsPerFile — the bucket
    // DIRECTORY is the layout contract, not the file count.)
    //
    // Zone-mapped tables are exempt: per-file zone bounds only prune
    // when values CLUSTER by file, and that clustering is either the
    // caller's own pre-partitioning (the documented discipline) or the
    // zoneCluster range-exchange below — a bucket-hash shuffle would
    // collapse each bucket to one full-range file and zone maps would
    // stop pruning (spec-pinned).
    //
    // zoneCluster: range-cluster the input on zoneCols before the
    // bucket-partitioned write so each bucket directory's files cover
    // DISJOINT zone ranges — the same discipline as merge's
    // zone-clustered staging, here for full publishes (and for
    // [[compact]]/[[rebucket]], whose assembled-read input order
    // would otherwise degrade a zone-mapped table's per-file bounds
    // to full-range at every maintenance pass)
    val withBkt = df.withColumn("bkt", bktCol(keys, numBuckets))
    val toStage =
      if (zoneCluster && zoneCols.nonEmpty) {
        val slices = math.max(numBuckets, spark.sessionState.conf.numShufflePartitions)
        withBkt.repartitionByRange(slices, zoneCols.map(col): _*)
          .sortWithinPartitions(zoneCols.map(col): _*)
      } else if (zoneCols.nonEmpty) withBkt
      // REBALANCE by bkt, not repartition(numBuckets, bkt): the pinned
      // count funneled the whole publish through ≤ numBuckets write
      // tasks (a skewed bucket = one straggler task, guide §2.6), and
      // hash(bkt) % numBuckets collisions idled some of even those.
      // AQE's rebalance keeps the one-file-per-bucket layout on
      // balanced inputs (small partitions coalesce) but SPLITS a
      // bucket bigger than the advisory partition size across several
      // write tasks — write parallelism follows data size, not the
      // layout constant (spec-pinned in PromoteSpec; the bucket
      // DIRECTORY stays the layout contract, not the file count).
      else withBkt.hint("rebalance", col("bkt"))
    // row count observed ON the write pass itself — the previous
    // staged.count() re-scanned everything just written (guide §1.4:
    // don't pay a second action for a number the first one knows)
    val rowsObs = org.apache.spark.sql.Observation()
    toStage.observe(rowsObs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).partitionBy("bkt").parquet(staging.getPath)
    val rows = rowsObs.get("rows").asInstanceOf[Long]
    require(rows > 0, "promoteBucketed refuses an empty table (no bucket files to lay out)")
    if (zoneCols.nonEmpty) buildZoneMap(spark, staging.getPath, zoneCols)
    if (keyBloomBits > 0) buildKeyBloom(spark, staging.getPath, keys, keyBloomBits)
    // lazy: .schema is a driver-side footer read; Validate below runs
    // a job only when the caller passed checks
    val staged = spark.read.parquet(staging.getPath)
    val (diffStats, diffReason) = diffGated(spark, root, live, diffGate, staged)
    val (viol, reason) = audit(checks, staged.drop("bkt"), diffReason)
    // the widened data schema rides in the manifest so serving reads
    // never pay per-directory footer derivation
    val promoted = settle(root, live, staging, dirName, startedMs, reason)(
      Manifest(version, dirName, live.map(_.path),
        Some(BucketSpec(keys.mkString(","), numBuckets, rows, Vector.fill(numBuckets)(dirName),
          zoneCols, Some(encodeSchema(staged.schema.fields.filter(_.name != "bkt").toSeq)),
          keyBloomBits))))
    PromoteReport(promoted, version, dirName, viol, diffStats, reason)
  }

  /** Run a publish body with an `eager` that checkpoints and records
    * each frame, and release every recorded checkpoint in `finally` —
    * a publish that loses the commit race (throws) must not leak
    * cached blocks in a long-lived retrying driver. */
  private def withReleasedCheckpoints[A](body: (DataFrame => DataFrame) => A): A = {
    val toRelease = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df =>
      val e = graft.operators.Checkpoints.eager(df)
      toRelease += e
      e
    } finally toRelease.foreach(graft.operators.Checkpoints.release)
  }

  /** Key-level MERGE publish — apply a drop as upsert/delete WITHOUT
    * rewriting the table (the missing half of the table-format story
    * next to whole-table [[promote]]). The live version must be
    * bucketed ([[promoteBucketed]]). Each drop row either upserts
    * (replaces the live row with its key, or inserts when absent) or,
    * when `deleted` evaluates true, deletes its key. Mechanics:
    *
    *  1. the drop's keys hash to buckets under the manifest's fixed
    *     [[BucketSpec]]; ONLY those buckets' current rows are read
    *     (partition-pruned from their owning version directories);
    *  2. survivors (touched-bucket rows whose key is not in the drop)
    *     union the upsert rows and stage into this version's private
    *     directory, partitioned by bucket — merge I/O is
    *     touched-bucket-sized, never table-sized;
    *  3. the staged rows are RE-READ and audited ([[Validate.Check]]
    *     suite — the corpus outside the touched buckets was audited
    *     by its own publish), and the O(1) changed-rows gate
    *     (`maxChangedPerMille` of the manifest's live row count,
    *     counting updates + deletes of existing keys) refuses a
    *     fat-fingered drop before anything publishes;
    *  4. one atomic manifest rename commits: the new version's owner
    *     map points touched buckets at the new directory and every
    *     other bucket at wherever it already lived. Mid-merge readers
    *     stay pinned to the old version; a crash before the swap
    *     leaves only an unreferenced staging directory the retry
    *     reclaims; untouched buckets' files are never opened.
    *
    * Drops must be key-unique (an upsert and a delete for the same
    * key have no defined order in a DataFrame — refused loudly).
    *
    * SCHEMA EVOLUTION: a drop may carry columns the table has never
    * seen — the merge publishes them on its touched buckets' files and
    * every untouched (byte-identical) older file reads as null for
    * them, so adding a column to a 100 TB corpus costs one ordinary
    * drop-sized merge, not a full republish. A drop MISSING an
    * existing column is still refused (delete-only drops excepted):
    * silently nulling a column on upserted rows would be data loss,
    * not evolution.
    *
    * `maxBroadcastDropKeys` bounds the drop-key broadcast (survivor
    * anti-join + accounting join); an unusually large drop falls back
    * to a shuffle join instead of stressing the broadcast path —
    * results identical, spec-pinned.
    *
    * Returns [[MergeReport]]; the manifest moves only on
    * `merged = true`. */
  def merge(
      drop: DataFrame,
      root: String,
      deleted: Column = lit(false),
      checks: Seq[Validate.Check] = Seq.empty,
      maxChangedPerMille: Option[Long] = None,
      maxBroadcastDropKeys: Long = 5000000L,
      zoneCluster: Boolean = false): MergeReport = {
    val spark = drop.sparkSession
    val startedMs = System.currentTimeMillis()
    val (live, spec) = liveBucketed(root, "publish with promoteBucketed before merging")
    val keys = spec.keys

    withReleasedCheckpoints { eager =>
    val Drop(d, nDrop, upsertRows, dropBuckets, allFields, missing) =
      prepareDrop(drop, root, spec, deleted, "merging", eager)
    val dataCols: Seq[String] = allFields.map(_.name)

    // fold pending PATCH layers into this rewrite: the layers' net
    // per-key effect ([[netDelta]]) joins the drop — user rows win on
    // shared keys (the layers are strictly older than the incoming
    // drop) — so the published version carries an EMPTY deltas list
    // and read amplification returns to zero. Accounting stays
    // user-drop-only: the layers' own effects were counted exactly by
    // the patches that published them.
    val net: Option[DataFrame] =
      if (spec.deltas.isEmpty) None
      else Some(eager(netDelta(spark, root, spec, allFields)))
    val dAll: DataFrame = net match {
      case None => d
      case Some(nd) => eager(d.unionByName(
        nd.join(broadcast(d.select(keys.map(col): _*)), keys, "left_anti"),
        allowMissingColumns = true))
    }
    // no pending deltas (the common case): the drop's own bucket set
    // from the keyAgg pass; with deltas folded in, dAll adds net-delta
    // keys, so their buckets still need the distinct scan
    val touched =
      if (spec.deltas.isEmpty) dropBuckets
      else dAll.select("bkt").distinct().collect().map(_.getInt(0)).toSeq.sorted

    // reading every owning directory with the WIDENED schema makes the
    // parquet reader null-fill missing columns by name (no per-frame
    // conform select) and skips footer schema inference entirely
    val readSchema = StructType((allFields :+ StructField("bkt", IntegerType)).toArray)

    // current rows of the touched buckets only, partition-pruned from
    // their owning directories; keep bkt — it is the staging partition
    val byDir = touched.map(b => (spec.owner(b), b)).filter(_._1.nonEmpty).groupBy(_._1)
    val oldRows = byDir.toSeq.sortBy(_._1).map { case (dir, entries) =>
      spark.read.schema(readSchema).parquet(new File(root, dir).getPath)
        .filter(col("bkt").isin(entries.map(_._2): _*))
    }.reduceOption(_ unionByName _)

    val dKeys = dAll.select((keys :+ "__del").map(col): _*)
    // drops small enough broadcast into the survivor anti-join and the
    // accounting join; past the bound they shuffle-join instead of
    // stressing the driver/executors with an oversized broadcast (the
    // touched-bucket side is already bounded by the drop's spread).
    // The bound counts the folded layers too (`deltaRows` — an upper
    // bound on the net's size without a count job).
    val nAll = nDrop + spec.deltaRows.sum
    def dkHint(df: DataFrame): DataFrame =
      if (nAll <= maxBroadcastDropKeys) broadcast(df) else df
    val upsertSrc = dAll.filter(!col("__del"))
    val upserts =
      if (missing.isEmpty || net.isDefined)
        // net layers read in the widened shape, so dAll carries every
        // data column even under a delete-only user drop
        upsertSrc.select(dataCols.map(col) :+ col("bkt"): _*)
      else
        // delete-only drop, no layers: an empty frame in the table's shape
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema)
    // No-layer fast path: ONE outer join annotates each touched-bucket
    // row with its drop verdict (__hit null = survivor, false =
    // updated, true = deleted), checkpointed once — survivors AND the
    // exact accounting both read the annotation, where the previous
    // shape scanned the touched buckets twice (an anti-join for the
    // rewrite, then a second inner-join job for accounting). With
    // pending layers (the rarer fold path) the accounting runs against
    // the reconciled pre-image ([[preImageHits]]). Guide §1.2/§2.4:
    // one pass, one join, for what two joins computed.
    val annotated: Option[DataFrame] =
      if (net.isEmpty)
        oldRows.map(o => eager(o.join(
          dkHint(dKeys.withColumnRenamed("__del", "__hit")), keys, "left_outer")))
      else None
    val survivors = annotated match {
      case Some(a) => Some(a.filter(col("__hit").isNull)
        .select(dataCols.map(col) :+ col("bkt"): _*))
      case None => oldRows.map(
        _.join(dkHint(dKeys.select(keys.map(col): _*)), keys, "left_anti")
          .select(dataCols.map(col) :+ col("bkt"): _*))
    }
    // survivors off the annotation are a cheap filter over its
    // checkpoint — no second checkpoint needed for the merged frame
    val merged = annotated match {
      case Some(_) => survivors.map(_.unionByName(upserts)).getOrElse(upserts)
      case None => eager(survivors.map(_.unionByName(upserts)).getOrElse(upserts))
    }

    // exact O(drop) accounting for the USER drop against the
    // RECONCILED pre-image of the touched buckets
    val (upserted, deletedN) = annotated match {
      case Some(a) =>
        val r = a.agg(
          sum(when(col("__hit") === false, 1L).otherwise(0L)).as("up"),
          sum(when(col("__hit") === true, 1L).otherwise(0L)).as("del"))
          .collect().head
        (if (r.isNullAt(0)) 0L else r.getLong(0),
          if (r.isNullAt(1)) 0L else r.getLong(1))
      case None => preImageHits(spark, root, spec, allFields, touched,
        net.map(nd => (nd, Some(spec.deltaRows.sum))).toSeq, d, dkHint)
    }
    val inserted = upsertRows - upserted
    val newTotal = spec.rows + inserted - deletedN

    val version = live.version + 1
    val (dirName, staging) = stagingFor(root, version)
    val stagedEmpty = merged.isEmpty
    if (!stagedEmpty) {
      // zoneCluster: range-cluster survivors ∪ upserts on (bkt,
      // zoneCols) before the write, so each touched bucket's files
      // cover DISJOINT zone ranges instead of whatever order the
      // survivor union produced — without it, a non-time-sliced
      // table's zone maps degrade toward full-range bounds per file
      // and readRange stops pruning (SURVEY row 22bh6's own note).
      // One extra range exchange over the touched-bucket-sized
      // staging, never the table; results identical (spec-pinned:
      // strictly fewer files scanned, bit-equal rows).
      val toWrite =
        if (zoneCluster && spec.zones.nonEmpty) {
          val slices = math.max(touched.size,
            spark.sessionState.conf.numShufflePartitions)
          merged.repartitionByRange(slices, (col("bkt") +: spec.zones.map(col)): _*)
            .sortWithinPartitions(("bkt" +: spec.zones).map(col): _*)
        } else if (spec.zones.nonEmpty) merged
        else
          // cluster by bucket before partitionBy (same reasoning as
          // promoteBucketed's staging write): an unclustered M-task
          // union writes M×touched near-empty files per merge. Tables
          // WITH zone maps keep the input's value-slicing — a bucket
          // shuffle would flatten per-file zone bounds to full-range.
          // REBALANCE, not a numBuckets-pinned repartition: write
          // parallelism follows the touched data's size (AQE splits an
          // oversized bucket, coalesces tiny ones) instead of the
          // layout constant (guide §2.6).
          merged.hint("rebalance", col("bkt"))
      toWrite.write.mode(SaveMode.Overwrite).partitionBy("bkt").parquet(staging.getPath)
      // the layout contract's zone maps ride along on every publish:
      // one extra column-pruned pass over the touched-bucket-sized
      // staging (never the table) — [[readRange]] consults them
      if (spec.zones.nonEmpty) buildZoneMap(spark, staging.getPath, spec.zones)
      // …and so do the per-file key blooms when the layout carries
      // them — [[lookup]]'s point-probe file skipping
      if (spec.bloomBits > 0) buildKeyBloom(spark, staging.getPath, keys, spec.bloomBits)
    } else staging.mkdirs() // every touched bucket emptied: version dir holds no files
    CommitSlot.at("versioned.staged")

    val (viol, reason) = audit(if (stagedEmpty) Nil else checks,
      spark.read.parquet(staging.getPath).drop("bkt"),
      changedGate(maxChangedPerMille, upserted + deletedN, spec.rows))
    // the staged bucket set is read from STAGING (pre-rename): a staged
    // bucket with zero rows writes no partition dir — its owner entry
    // becomes "" (empty bucket), not the new dir. partitionBy
    // materializes exactly one bkt=K directory per non-empty bucket, so
    // the set is a driver-side listing, not a scan of what was written
    val stagedBkts: Set[Int] = Option(staging.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
      .map(_.getName.stripPrefix("bkt=").toInt).toSet
    val owner = touched.foldLeft(spec.owner)((o, b) =>
      o.updated(b, if (stagedBkts.contains(b)) dirName else ""))
    // deltas = Nil: this rewrite FOLDED any pending patch layers
    // (their rows are in the touched buckets' new files now)
    val committed = settle(root, Some(live), staging, dirName, startedMs, reason)(
      Manifest(version, dirName, Some(live.path),
        Some(spec.copy(rows = newTotal, owner = owner,
          schemaB64 = Some(encodeSchema(allFields)),
          deltas = Nil, deltaRows = Nil))))
    MergeReport(committed, version, dirName, upserted, inserted, deletedN,
      touched, viol, reason)
    }
  }

  /** The live manifest and its bucket layout; refuses, naming `why`,
    * when the table has no live version or is not bucketed. */
  private def liveBucketed(root: String, why: String): (Manifest, BucketSpec) = {
    val live = currentManifest(root).getOrElse(sys.error(s"no live version under $root"))
    (live, live.buckets.getOrElse(sys.error(s"live version under $root is not bucketed — $why")))
  }

  /** What [[merge]] and [[patch]] know about a drop before staging:
    * the drop checkpointed with its `__del` marker and `bkt` bucket id,
    * its row count, upsert rows and touched buckets, the table schema
    * WIDENED by the drop's added columns, and the table columns the
    * drop lacks (only a delete-only drop may lack any). */
  private final case class Drop(d: DataFrame, rows: Long, upsertRows: Long,
      buckets: Seq[Int], allFields: Seq[StructField], missing: Seq[String])

  /** The drop prologue of [[merge]] and [[patch]] (`verb` names the
    * publish in the legacy-layout refusal): check the key columns,
    * checkpoint the drop, answer size, key-uniqueness, upsert count and
    * touched buckets with ONE aggregation job (the bucket id is a pure
    * function of the key, so first(bkt) per key group is exact), widen
    * the schema, and refuse a drop whose upserts miss a column. */
  private def prepareDrop(drop: DataFrame, root: String, spec: BucketSpec, deleted: Column,
      verb: String, eager: DataFrame => DataFrame): Drop = {
    val keys = spec.keys
    keys.foreach(k => require(drop.columns.contains(k),
      s"merge key column '$k' not in ${drop.columns.mkString(", ")}"))
    val d = eager(drop
      .withColumn("__del", coalesce(deleted.cast("boolean"), lit(false)))
      .withColumn("bkt", bktCol(keys, spec.numBuckets)))
    val keyAgg = d.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__del"), 0L).otherwise(1L)).as("__u"),
        first(col("bkt")).as("__b"))
      .agg(sum(col("__n")), count(lit(1)), sum(col("__u")),
        collect_set(col("__b")))
      .collect().head
    val rows = if (keyAgg.isNullAt(0)) 0L else keyAgg.getLong(0)
    require(rows == keyAgg.getLong(1),
      s"drop has duplicate '${spec.key}' keys — upsert/delete order within a drop is undefined")

    // the table's live schema: recorded in the manifest by every
    // publish since the field existed (zero per-call footer reads);
    // older manifests re-derive the first-seen union of the owning
    // directories' footers
    val tableFields = widenedFields(drop.sparkSession, root, spec)
    // SCHEMA EVOLUTION: columns the drop ADDS widen the table — new
    // files carry them, older rows read as null (unionEvolved's
    // by-name discipline applied to the bucket store); columns the
    // drop is MISSING are still refused (delete-only drops excepted) —
    // an upsert that silently nulled an existing column would be a
    // data-loss footgun, not evolution. Columns the `deleted`
    // expression references are CDC MARKERS, not data — they never
    // widen the table (resolved against the drop so arbitrary marker
    // expressions work, not just a bare column)
    val delRefs: Set[String] =
      drop.select(deleted.as("__p")).queryExecution.analyzed
        .expressions.flatMap(_.references.map(_.name)).toSet
    val dropExtras = d.schema.fields.filter(f =>
      !tableFields.exists(_.name == f.name) && f.name != "__del" && f.name != "bkt" &&
        !delRefs.contains(f.name)).toSeq
    val allFields = tableFields ++ dropExtras
    // legacy-layout guard, BEFORE any staging I/O: a table published
    // when doubles/decimals were long-cast into zone bounds would
    // otherwise fail inside buildZoneMap AFTER the staging write,
    // stranding an orphan — refuse at entry with the remedy instead
    for (z <- spec.zones; f <- allFields.find(_.name == z))
      try zoneBound(f.dataType)
      catch { case e: RuntimeException => sys.error(
        s"zone column '$z' of the live layout has unsupported type ${f.dataType.simpleString} " +
          s"(a pre-r14 publish accepted it; bounds would truncate) — republish with " +
          s"promoteBucketed and integral/string/date zone columns before $verb: ${e.getMessage}") }
    val missing = tableFields.map(_.name).filterNot(c => drop.columns.contains(c))
    if (missing.nonEmpty)
      require(d.filter(!col("__del")).isEmpty,
        s"drop upsert rows are missing table columns: ${missing.mkString(", ")} — " +
          "a drop may ADD columns (older rows read as null) but must carry every existing one")
    Drop(d, rows, if (keyAgg.isNullAt(2)) 0L else keyAgg.getLong(2),
      keyAgg.getSeq[Int](3).sorted, allFields, missing)
  }

  /** Exact key accounting of the USER drop `d` against the RECONCILED
    * pre-image of the touched buckets: their base keys (keys only,
    * partition-pruned), folded through the pending `layers` oldest
    * first — each layer's keys shadow everything beneath, its live
    * upserts union back, so the newest layer wins. A layer is its rows
    * (keys and `__del`) with the row bound that decides its broadcast
    * hint; [[patch]] passes every delta layer, [[merge]] the layers'
    * already-checkpointed net effect as one. A key an earlier patch
    * inserted counts as an update, one it deleted counts as an insert.
    * `hint` is the drop-key broadcast decision. Returns (updated,
    * deleted) existing keys. */
  private def preImageHits(spark: SparkSession, root: String, spec: BucketSpec,
      allFields: Seq[StructField], touched: Seq[Int], layers: Seq[(DataFrame, Option[Long])],
      d: DataFrame, hint: DataFrame => DataFrame): (Long, Long) = {
    val keys = spec.keys
    val byDir = touched.map(b => (spec.owner(b), b)).filter(_._1.nonEmpty).groupBy(_._1)
    val keySchema = StructType(
      (allFields.filter(f => keys.contains(f.name)) :+ StructField("bkt", IntegerType)).toArray)
    val baseKeys = byDir.toSeq.sortBy(_._1).map { case (dir, entries) =>
      spark.read.schema(keySchema).parquet(new File(root, dir).getPath)
        .filter(col("bkt").isin(entries.map(_._2): _*))
        .select(keys.map(col): _*)
    }.reduceOption(_ unionByName _)
    val preKeys: Option[DataFrame] = layers.foldLeft(baseKeys) { case (acc, (layer, rows)) =>
      val lk = layer.select(keys.map(col): _*)
      val hinted = if (rows.forall(_ <= DeltaBroadcastMaxRows)) broadcast(lk) else lk
      val lup = layer.filter(!col("__del")).select(keys.map(col): _*)
      Some(acc.map(_.join(hinted, keys, "left_anti").unionByName(lup)).getOrElse(lup))
    }
    preKeys.map(_.join(hint(d.select((keys :+ "__del").map(col): _*)), keys, "inner")
      .agg(
        sum(when(col("__del"), 0L).otherwise(1L)).as("up"),
        sum(when(col("__del"), 1L).otherwise(0L)).as("del"))
      .collect().head).map(r => (Option(r.get(0)).fold(0L)(_ => r.getLong(0)),
        Option(r.get(1)).fold(0L)(_ => r.getLong(1)))).getOrElse((0L, 0L))
  }

  /** MERGE-ON-READ publish — the O(drop) sibling of [[merge]]. A
    * merge's write cost is touched-bucket-sized: every survivor row of
    * every touched bucket is rewritten, so a 0.1% daily upsert against
    * a 100 TB table still rewrites whole buckets. `patch` writes ONLY
    * the drop: the rows land (with their `__del` markers) as a new
    * version directory appended to the manifest's `deltas` list, the
    * owner map untouched — and every read reconciles the layers over
    * the base with broadcast anti-joins ([[applyDeltas]]: a layer's
    * keys shadow everything beneath; newest wins). Read amplification
    * grows with the layer count, so patches are bounded by
    * `maxDeltaLayers` (refused loudly past it) and folded back into
    * the base by the next [[merge]], [[foldDeltas]], [[compact]],
    * [[rebucket]], or [[maintain]] pass.
    *
    * Semantics are EXACTLY [[merge]]'s (spec- and fuzz-pinned):
    * key-unique drops, upsert/delete by key, schema evolution on added
    * columns, missing-column refusal (delete-only drops excepted), the
    * same `maxChangedPerMille` fat-finger gate, exact key accounting
    * against the RECONCILED pre-image (a key inserted by an earlier
    * layer counts as an update, not an insert), and the same
    * [[CommitSlot.commit]] → manifest swap (fault points
    * `versioned.staged` / `.commit` / `.claimed` / `.renamed` /
    * `.chain`; a crash strands only an unreferenced staging directory
    * or an orphan chain entry). Zone maps and key-Bloom sidecars ride
    * along on the layer when the layout carries them, so [[readRange]]
    * prunes and [[lookup]] probes delta layers the same way they do
    * base directories. */
  def patch(
      drop: DataFrame,
      root: String,
      deleted: Column = lit(false),
      checks: Seq[Validate.Check] = Seq.empty,
      maxChangedPerMille: Option[Long] = None,
      maxDeltaLayers: Int = 8,
      maxBroadcastDropKeys: Long = 5000000L): PatchReport = {
    val spark = drop.sparkSession
    val startedMs = System.currentTimeMillis()
    val (live, spec) = liveBucketed(root, "publish with promoteBucketed before patching")
    val keys = spec.keys
    require(spec.deltas.size < maxDeltaLayers,
      s"table under $root already carries ${spec.deltas.size} delta layers " +
        s"(maxDeltaLayers = $maxDeltaLayers) — every read reconciles each layer; " +
        "fold them first (foldDeltas / merge / maintain)")

    withReleasedCheckpoints { eager =>
    val Drop(d, nDrop, upsertRows, touched, allFields, _) =
      prepareDrop(drop, root, spec, deleted, "patching", eager)
    require(nDrop > 0, "patch refuses an empty drop — nothing to publish")

    def dkHint(df: DataFrame): DataFrame =
      if (nDrop <= maxBroadcastDropKeys) broadcast(df) else df
    // every pending layer's rows, delta scans pruned to the touched buckets
    val layers = spec.deltas.zipWithIndex.map { case (dir, i) =>
      (spark.read.schema(deltaReadSchema(allFields)).parquet(new File(root, dir).getPath)
        .filter(col("bkt").isin(touched: _*)), spec.deltaRows.lift(i))
    }
    val (upserted, deletedN) =
      preImageHits(spark, root, spec, allFields, touched, layers, d, dkHint)
    val inserted = upsertRows - upserted
    val newTotal = spec.rows + inserted - deletedN

    val version = live.version + 1
    val (dirName, staging) = stagingFor(root, version)
    // the layer IS the drop: data columns (null-filled for delete-only
    // drops), the __del marker, the bucket routing — O(drop) I/O, no
    // survivor read, no bucket rewrite. Clustered by bucket before the
    // partitionBy write (the promoteBucketed discipline) so a layer is
    // one file per touched bucket, not input-tasks × buckets; drops
    // are small, so the exchange is cheap and AQE may coalesce it.
    val layerCols = allFields.map { f =>
      if (d.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ Seq(col("__del"), col("bkt"))
    val layerOut = d.select(layerCols: _*)
    // zone-mapped layers keep the drop's own value-slicing (per-file
    // zone bounds prune only when values cluster by file)
    val layerStaged =
      if (spec.zones.nonEmpty) layerOut else layerOut.hint("rebalance", col("bkt"))
    layerStaged
      .write.mode(SaveMode.Overwrite).partitionBy("bkt").parquet(staging.getPath)
    if (spec.zones.nonEmpty) buildZoneMap(spark, staging.getPath, spec.zones)
    if (spec.bloomBits > 0) buildKeyBloom(spark, staging.getPath, keys, spec.bloomBits)
    CommitSlot.at("versioned.staged")

    val (viol, reason) = audit(checks,
      spark.read.parquet(staging.getPath).filter(!col("__del")).drop("bkt", "__del"),
      changedGate(maxChangedPerMille, upserted + deletedN, spec.rows))
    val committed = settle(root, Some(live), staging, dirName, startedMs, reason)(
      Manifest(version, dirName, Some(live.path),
        Some(spec.copy(rows = newTotal,
          schemaB64 = Some(encodeSchema(allFields)),
          deltas = spec.deltas :+ dirName,
          deltaRows = spec.deltaRows :+ nDrop))))
    PatchReport(committed, version, dirName, upserted, inserted, deletedN,
      spec.deltas.size + (if (committed) 1 else 0), viol, reason)
    }
  }

  /** [[patch]] with bounded replay on a lost single-writer race —
    * [[mergeRetry]]'s discipline applied to the merge-on-read publish
    * (safe for the same reason: a patch applies its drop BY KEY).
    * `refuseKeyConflicts = true` runs the same write-write conflict
    * gate on a lost race. */
  def patchRetry(
      drop: DataFrame,
      root: String,
      deleted: Column = lit(false),
      checks: Seq[Validate.Check] = Seq.empty,
      maxChangedPerMille: Option[Long] = None,
      attempts: Int = 5,
      backoffMs: Long = 500L,
      maxDeltaLayers: Int = 8,
      refuseKeyConflicts: Boolean = false): PatchReport = {
    val firstBase = currentManifest(root).map(_.version)
    CommitSlot.retrying(attempts, backoffMs) { attempt =>
      if (refuseKeyConflicts && attempt > 1) firstBase.foreach(checkKeyConflict(drop, root, _))
      patch(drop, root, deleted, checks, maxChangedPerMille, maxDeltaLayers)
    }
  }

  /** Fold every pending [[patch]] layer back into the base: ONE
    * merge-shaped rewrite of the layers' touched buckets (the net
    * per-key effect of the layers applied as a drop), publishing a
    * version whose `deltas` list is EMPTY — content bit-equal by
    * construction ([[merge]] itself reconciles pending layers into
    * both its pre-image and its rewrite), read amplification back to
    * zero. The maintenance verb between the intraday patches; no-op
    * (refused with a reason, pointer unmoved) when no layers are
    * pending. */
  def foldDeltas(spark: SparkSession, root: String,
      checks: Seq[Validate.Check] = Seq.empty): MergeReport = {
    val (live, spec) = liveBucketed(root, "only bucketed tables carry delta layers")
    if (spec.deltas.isEmpty)
      MergeReport(merged = false, live.version, live.path, 0L, 0L, 0L, Nil, Nil,
        Some("no delta layers to fold"))
    else {
      // an empty drop in the key columns' shape: merge folds the
      // pending layers into its rewrite and publishes deltas = Nil
      val keyFields = widenedFields(spark, root, spec).filter(f => spec.keys.contains(f.name))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(keyFields.toArray))
      merge(empty, root, checks = checks, zoneCluster = spec.zones.nonEmpty)
    }
  }

  /** [[merge]] with bounded replay on a lost single-writer race: the
    * loser of a concurrent publish re-resolves the NEW live manifest
    * and replays its drop against it — safe because a merge applies
    * its drop BY KEY (replaying the same drop over the winner's
    * version lands exactly the drop's upserts/deletes; replaying an
    * already-applied drop publishes a version equal to its parent).
    * Two writers whose drops disagree on the SAME key resolve to
    * whichever commits last — the usual last-writer-wins caveat;
    * drops from independent pipelines should touch disjoint keys.
    * Backoff is linear (`backoffMs × attempt`); refusals that are NOT
    * races (validation, gates) return immediately like [[merge]]. */
  def mergeRetry(
      drop: DataFrame,
      root: String,
      deleted: Column = lit(false),
      checks: Seq[Validate.Check] = Seq.empty,
      maxChangedPerMille: Option[Long] = None,
      attempts: Int = 5,
      backoffMs: Long = 500L,
      maxBroadcastDropKeys: Long = 5000000L,
      refuseKeyConflicts: Boolean = false,
      zoneCluster: Boolean = false): MergeReport = {
    // the drop is presumed derived against the CURRENT live version;
    // every replay re-checks against this base, not the previous
    // attempt's (a winner that commits between a loser's refusal and
    // its retry must still be detected — the refusal itself may have
    // fired while the winner merely HELD the claim, pointer unmoved)
    val firstBase = currentManifest(root).map(_.version)
    CommitSlot.retrying(attempts, backoffMs) { attempt =>
      if (refuseKeyConflicts && attempt > 1) firstBase.foreach(checkKeyConflict(drop, root, _))
      merge(drop, root, deleted, checks, maxChangedPerMille, maxBroadcastDropKeys, zoneCluster)
    }
  }

  /** Two racing writers whose drops disagree on the SAME key resolved
    * last-writer-wins under plain [[mergeRetry]] — the documented
    * multi-writer caveat. `refuseKeyConflicts = true` turns that
    * convention into a GATE, the write-write conflict detection real
    * table formats run at commit: on a lost race, the retry diffs the
    * base→new-live key set (what the winner's publishes touched)
    * against its own drop's keys and throws this instead of replaying,
    * naming sample conflicting keys — disjoint-key races still
    * all-commit. */
  final class MergeConflictException(msg: String) extends RuntimeException(msg)

  /** Refuse the replay when the base→live delta touched any of the
    * drop's keys. Cost: one change-feed diff over the two versions
    * (bucket-assembled, partition-pruned) semi-joined against the
    * broadcast drop keys — paid only on a LOST race. */
  private def checkKeyConflict(drop: DataFrame, root: String, baseVersion: Int): Unit = {
    val spark = drop.sparkSession
    val live = currentManifest(root).getOrElse(return)
    if (live.version == baseVersion) return // pointer didn't move: no winner to conflict with
    val keys = live.buckets.map(_.keys).getOrElse(return)
    val from = readVersion(spark, root, baseVersion)
    val to = readVersion(spark, root, live.version)
    val common = from.columns.toSet.intersect(to.columns.toSet).toSeq.sorted
    // content fingerprint over every column both versions share, so an
    // upsert that changed ANY column counts as touched (JSON, not a
    // concat-hash: distinct null patterns must fingerprint distinctly);
    // the key tuple fingerprints through the same JSON discipline so
    // composite keys diff as one value
    val fp = to_json(struct(common.map(col): _*))
    val kc = to_json(struct(keys.map(col): _*))
    val touched = TableDiff.snapshotDiff(
        from.select(common.map(col): _*), to.select(common.map(col): _*),
        kc, kc, fp, fp, keyName = "__kt")
      .filter(col("status") =!= "unchanged")
      .select(col("__kt"))
    val conflicts = touched
      .join(broadcast(drop.select(kc.as("__kt")).distinct()), Seq("__kt"), "left_semi")
    val sample = conflicts.limit(6).collect().map(_.get(0))
    if (sample.nonEmpty)
      throw new MergeConflictException(
        s"merge conflict under $root: versions $baseVersion -> ${live.version} " +
          s"touched keys this drop also writes (" +
          sample.take(5).mkString(", ") + (if (sample.length > 5) ", …" else "") +
          ") — replaying would overwrite the concurrent writer's committed values; " +
          "re-derive the drop against the new live version")
  }

  /** Point lookup on a bucketed table: the serving-path read. The
    * key hashes to its bucket under the live layout contract, and the
    * scan touches ONLY that bucket's partition directory inside its
    * one owning version directory — at 100 TB a key fetch reads one
    * bucket's files, not the table (spec pins the single-partition
    * input). Keys of the same type as the merge key column hash
    * identically (the layout casts through string; integer and string
    * ids are exact — don't bucket on float keys). */
  def lookup(spark: SparkSession, root: String, keyValue: Any): DataFrame =
    lookup(spark, root, Seq(keyValue))

  /** Composite-key point lookup: one value per key column of the
    * layout contract, in layout order — the tuple hashes driver-side
    * through the same fold the writers evaluate and the scan still
    * touches exactly ONE bucket partition of ONE owning directory. */
  def lookup(spark: SparkSession, root: String, keyValues: Seq[Any]): DataFrame = {
    val (_, spec) = liveBucketed(root, "lookup needs the bucket layout")
    val keys = spec.keys
    require(keyValues.length == keys.length,
      s"lookup needs ${keys.length} key value(s) for layout key '${spec.key}', " +
        s"got ${keyValues.length}")
    // the bucket id comes from the SAME Catalyst expressions the
    // writers evaluate, run driver-side — a point read must not pay a
    // one-row Spark job to hash its key
    val bkt = bktOf(spark, keyValues, spec.numBuckets)
    val dir = spec.owner(bkt)
    // the table's full (possibly evolved) schema — the point read must
    // return the same columns as a full read, null-filling columns the
    // owning directory predates. Manifest-recorded since r14: the
    // serving path plans with ZERO footer reads and runs exactly one
    // job (the single-bucket scan itself, spec-pinned)
    val fields = widenedFields(spark, root, spec)
    val keyPred = keys.zip(keyValues)
      .map { case (k, v) => col(k) === lit(v) }.reduce(_ && _)
    def emptyFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(fields.toArray))
    val readSchema = StructType((fields :+ StructField("bkt", IntegerType)).toArray)
    // pending patch layers answer FIRST, newest layer wins: each probe
    // is one partition-pruned scan of the layer's bkt=<b> directory
    // (skipped with ZERO jobs when the layer's key-Bloom sidecar
    // excludes the key), a __del hit answers "gone", an upsert hit
    // answers with the layer's row, and only a miss in every layer
    // falls through to the base path below — so the serving read pays
    // at most (live layers + 1) pruned point scans, usually fewer
    val fromDeltas: Option[DataFrame] =
      if (spec.deltas.isEmpty) None
      else {
        val h = keyHash(spark, keyValues)
        val layerSchema = deltaReadSchema(fields)
        spec.deltas.reverseIterator.map { dir =>
          val dirFile = new File(root, dir)
          val excluded = readKeyBloom(dirFile).exists { case (bits, files) =>
            !files.exists { case (rel, words) =>
              rel.startsWith(s"bkt=$bkt/") && bloomMightContain(words, bits, h) }
          }
          if (excluded) None
          else {
            val hit = spark.read.schema(layerSchema).parquet(dirFile.getPath)
              .filter(col("bkt") === bkt && keyPred)
              .collect().headOption
            hit.map { r =>
              if (r.getAs[Boolean]("__del")) emptyFrame
              else spark.createDataFrame(
                java.util.Collections.singletonList(
                  org.apache.spark.sql.Row.fromSeq(r.toSeq.take(fields.length))),
                StructType(fields.toArray))
            }
          }
        }.collectFirst { case Some(df) => df }
      }
    if (fromDeltas.isDefined) return fromDeltas.get
    val out =
      if (dir.isEmpty) emptyFrame // bucket currently empty
      else {
        val dirFile = new File(root, dir)
        // per-file key blooms (when the layout publishes them) skip
        // the bucket's files that provably lack the key — consulted
        // DRIVER-side (same hash as the bucket routing, zero extra
        // jobs); false positives only add files, the key-equality
        // filter keeps the result exact. A bloom that excludes every
        // file answers the lookup with NO job at all.
        val keep: Option[Seq[String]] = readKeyBloom(dirFile).map { case (bits, files) =>
          val h = keyHash(spark, keyValues)
          files.toSeq.collect {
            case (rel, words)
              if rel.startsWith(s"bkt=$bkt/") && bloomMightContain(words, bits, h) => rel
          }
        }
        keep match {
          case Some(Nil) => emptyFrame // provably absent: zero Spark jobs
          case Some(rels) =>
            spark.read.option("basePath", dirFile.getPath).schema(readSchema)
              .parquet(rels.sorted.map(rel => new File(dirFile, rel).getPath): _*)
              .filter(col("bkt") === bkt && keyPred)
              .select(fields.map(f => col(f.name)): _*)
          case None =>
            spark.read.schema(readSchema)
              .parquet(dirFile.getPath)
              .filter(col("bkt") === bkt && keyPred)
              .select(fields.map(f => col(f.name)): _*)
        }
      }
    out
  }

  /** Consolidate a bucketed table: republish the live data as ONE new
    * version owning every bucket, under the table's existing layout
    * contract (key and bucket count from the live [[BucketSpec]]).
    * A long merge chain leaves the live owner map pointing into many
    * version directories (a read unions one partition-pruned scan per
    * distinct directory, and vacuum must retain every referenced one);
    * compaction collapses that to a single directory, after which
    * [[vacuum]] can reclaim the whole chain outside the retention
    * window. Content is untouched — the new version reads bit-equal
    * to its parent; it is the maintenance publish between the nightly
    * merges, exactly a table format's compaction pass. */
  def compact(spark: SparkSession, root: String,
      checks: Seq[Validate.Check] = Seq.empty): PromoteReport = {
    val (_, spec) = liveBucketed(root, "compact consolidates bucket stores")
    promoteBucketed(read(spark, root), root, spec.key, spec.numBuckets, checks,
      zoneCols = spec.zones, keyBloomBits = spec.bloomBits,
      zoneCluster = spec.zones.nonEmpty)
  }

  /** Bucket-count EVOLUTION: republish the live data under the same
    * key and zone contract but `newBuckets` hash partitions — the
    * layout remedy for a table that outgrew (or over-provisioned) its
    * creation-time bucket count, which [[promoteBucketed]] otherwise
    * fixes forever (a 100×-grown table keeps its original per-bucket
    * file growth with no remedy short of this). Mechanically it is
    * [[compact]] with a new contract: one claim-disciplined rewrite
    * publishing a NEW version whose [[BucketSpec]] carries the new
    * count and every bucket owned by the new directory. Readers are
    * never torn — a reader mid-rebucket stays pinned to the manifest
    * it resolved (old count, old directories, both intact until
    * vacuum); time travel and the change feed resolve across the
    * rebucket because every chain entry carries ITS OWN layout.
    * Content is untouched: reads are row-equal before/after, and
    * [[merge]]/[[lookup]] hash against whichever contract is live
    * (spec-pinned). Cost is one full table rewrite — schedule it like
    * compaction, not like a merge. */
  def rebucket(spark: SparkSession, root: String, newBuckets: Int,
      checks: Seq[Validate.Check] = Seq.empty): PromoteReport = {
    require(newBuckets > 0)
    val (_, spec) = liveBucketed(root, "rebucket evolves bucket layouts")
    promoteBucketed(read(spark, root), root, spec.key, newBuckets, checks,
      zoneCols = spec.zones, keyBloomBits = spec.bloomBits,
      zoneCluster = spec.zones.nonEmpty)
  }

  /** Per-file [min, max] zone manifest for a STAGED version directory
    * (the [[ZoneMaps]] idea applied inside the bucket store). File
    * paths are stored RELATIVE to the version directory
    * (`bkt=K/part-….parquet`) — the staging directory is renamed into
    * its version slot at commit, so absolute paths would go stale the
    * instant they were useful. One column-pruned pass over the staged
    * data (touched-bucket-sized for merges), one manifest row per
    * file, written as `_zonemap` inside the directory (underscore
    * prefix: plain readers skip it). Bounds are stored in two type
    * families ([[zoneBound]]): BIGINT for integral columns, and
    * binary-ordered strings for string/date columns (dates render as
    * ISO `yyyy-MM-dd`, which sorts exactly like the date — the
    * `lang = 'de' AND day BETWEEN …` report prunes both ways); any
    * other type is refused at publish, because a truncated bound
    * would prune files holding in-range rows. Zones earn their
    * keep only when values CLUSTER by file: pre-cluster the input
    * (e.g. repartitionByRange on the zone column) before
    * [[promoteBucketed]], and note that each merge's files naturally
    * cover only that drop's value range — the nightly-merge
    * time-slicing this exists for. */
  private def buildZoneMap(spark: SparkSession, dirPath: String,
      statsCols: Seq[String]): Unit = {
    val schema = spark.read.parquet(dirPath).schema
    val aggs = statsCols.flatMap { c =>
      val family = zoneBound(schema(c).dataType)
      Seq(min(col(c)).cast(family).as(s"lo_$c"), max(col(c)).cast(family).as(s"hi_$c"))
    }
    spark.read.parquet(dirPath)
      .select(input_file_name().as("__f") +: statsCols.map(col): _*)
      .groupBy("__f")
      .agg(aggs.head, aggs.tail: _*)
      // bucket-partitioned layout ⇒ every data file sits under bkt=K/
      .withColumn("file", expr("substring(__f, instr(__f, '/bkt=') + 1)"))
      .drop("__f")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(new File(dirPath, "_zonemap").getPath)
  }

  // per-file key-Bloom sidecars share one double-hashing scheme with
  // graft.sketch.BloomFilter: h1 = the layout's own multi-column
  // xxhash64 (the SAME hash the bucket routing uses), h2 = (h1>>>17)|1,
  // bit_i = (h1 + i·h2) mod bits — replicated driver-side so a point
  // lookup tests membership with ZERO Spark jobs
  private val BloomHashes = 5

  /** Per-file key-Bloom sidecar for a STAGED version directory: one
    * bloomAgg of the key tuple's xxhash64 per data file, written
    * DRIVER-side as `_keybloom.json` ({rel file → base64 bit words})
    * inside the directory — [[lookup]] consults it to skip files that
    * provably lack the key (zone maps prune RANGES across files; the
    * bloom prunes POINT probes within a bucket's many files — at
    * 100 TB one bucket of a big table spans many merge-era files and
    * a key lives in at most a couple). False positives only ADD
    * files; the key-equality filter keeps the result exact. One
    * column-pruned pass over the staged (touched-bucket-sized) data;
    * sidecar size = files × bits/8. */
  private def buildKeyBloom(spark: SparkSession, dirPath: String,
      keys: Seq[String], bits: Int): Unit = {
    val perFile = spark.read.parquet(dirPath)
      .select(input_file_name().as("__f"),
        xxhash64(keys.map(k => col(k).cast("string")): _*).as("__h"))
      .groupBy("__f")
      .agg(graft.sketch.BloomFilter.bloomAgg(col("__h"), bits, BloomHashes).as("__b"))
      .select(col("__f"), col("__b").getField("words"))
      .collect()
    val entries = perFile.map { r =>
      val f = r.getString(0)
      val rel = f.substring(f.indexOf("/bkt=") + 1)
      val words = r.getSeq[Long](1)
      val bb = java.nio.ByteBuffer.allocate(words.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      words.foreach(bb.putLong)
      s""""$rel": "${java.util.Base64.getEncoder.encodeToString(bb.array)}""""
    }
    val json = s"""{"bits": $bits, "hashes": $BloomHashes, "files": {${entries.mkString(", ")}}}"""
    java.nio.file.Files.write(new File(dirPath, "_keybloom.json").toPath,
      json.getBytes("UTF-8"))
  }

  private val BloomHeaderRe = """"bits"\s*:\s*(\d+)""".r.unanchored
  private val BloomEntryRe = """"([^"]+)"\s*:\s*"([A-Za-z0-9+/=]+)"""".r

  /** The directory's key-Bloom sidecar: (bits, rel file → bit words).
    * None when the directory predates bloom publication. */
  private def readKeyBloom(dir: File): Option[(Int, Map[String, Array[Long]])] = {
    val f = new File(dir, "_keybloom.json")
    if (!f.exists()) return None
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val bits = text match { case BloomHeaderRe(b) => b.toInt case _ => return None }
    val filesPart = text.substring(text.indexOf("\"files\""))
    val m = BloomEntryRe.findAllMatchIn(filesPart).map { mm =>
      val bytes = java.util.Base64.getDecoder.decode(mm.group(2))
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val words = new Array[Long](bytes.length / 8)
      var i = 0
      while (i < words.length) { words(i) = bb.getLong(); i += 1 }
      mm.group(1) -> words
    }.toMap
    Some((bits, m))
  }

  private def bloomMightContain(words: Array[Long], bits: Int, h1: Long): Boolean =
    graft.sketch.BloomFilter.mightContainWords(words, bits, BloomHashes, h1)

  /** `lo ≤ c ≤ hi` over a bucketed, zone-mapped table: each owning
    * directory's `_zonemap` is consulted BEFORE the scan, so files
    * whose [min, max] provably miss the range never produce tasks —
    * at 100 TB the nightly time-sliced report after a merge chain
    * reads the few files whose drop covered the window, not every
    * bucket of every owning directory. The residual filter is always
    * re-applied, so the result is EXACTLY `read(...)` filtered to the
    * range regardless of zone coarseness (spec-pinned); a directory
    * without a zone map (or predating column `c`) degrades to its
    * plain pruned scan, never to an error. */
  def readRange(spark: SparkSession, root: String, c: String, lo: Long, hi: Long): DataFrame =
    readRangeAll(spark, root, Seq((c, lo, hi)))

  /** String/date flavor: `lo ≤ c ≤ hi` under binary string order —
    * pass ISO `yyyy-MM-dd` bounds for date zone columns. */
  def readRange(spark: SparkSession, root: String, c: String, lo: String, hi: String): DataFrame =
    readRangeAll(spark, root, Seq((c, lo, hi)))

  /** Conjunctive multi-column range read: `lo ≤ c ≤ hi` for EVERY
    * (c, lo, hi) — the nightly report's usual shape (a time window AND
    * a key slice). Bounds must come from the column's zone family
    * (Long for integral columns; String — ISO for dates — for
    * string/date columns). A file survives pruning only when every
    * predicate's zone overlaps, so the surviving set is the
    * INTERSECTION of the per-column prunes; predicates on columns a
    * directory's zone map doesn't cover simply don't prune there (the
    * residual filter keeps the result exact), and a directory
    * predating ANY predicate column contributes nothing. The range
    * predicates are additionally applied ON EACH DIRECTORY'S SCAN, so
    * they reach the parquet reader as pushed filters and row-group
    * stats prune WITHIN the surviving files too (plan-pinned). Same
    * pruned ≡ plain contract as [[readRange]]. */
  def readRangeAll(spark: SparkSession, root: String,
      preds: Seq[(String, Any, Any)]): DataFrame = {
    require(preds.nonEmpty, "readRangeAll needs at least one (column, lo, hi) predicate")
    val m = currentManifest(root).getOrElse(sys.error(s"no live version under $root"))
    val residual = preds.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .reduce(_ && _)
    m.buckets match {
      case None => readManifestData(spark, root, m).filter(residual)
      case Some(spec) =>
        val byDir = spec.owner.zipWithIndex.filter(_._1.nonEmpty).groupBy(_._1)
        require(byDir.nonEmpty || spec.deltas.nonEmpty,
          s"bucketed table under $root has no non-empty buckets")
        val parts = byDir.toSeq.sortBy(_._1).map { case (dir, entries) =>
          prunedDirScan(spark, root, dir, Some(entries.map(_._2)), preds, residual)
        }
        val base = parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
        val unioned = spec.deltas match {
          case Nil => base.get
          case deltas =>
            // pending patch layers: the base's pruned scan must still
            // be SHADOWED by every layer's FULL key set (a layer row
            // outside the range can delete or move a base row inside
            // it), so the shadowing anti-joins read the layers'
            // key columns unpruned — delta-sized by contract, hinted
            // broadcast under [[DeltaBroadcastMaxRows]]. Each layer's
            // own in-range rows come from its zone-pruned scan,
            // shadowed by the layers above it (newest wins).
            val fields = widenedFields(spark, root, spec)
            val schema = deltaReadSchema(fields)
            val keys = spec.keys
            val layerKeys = deltas.map(dir =>
              spark.read.schema(schema).parquet(new File(root, dir).getPath)
                .select(keys.map(col): _*))
            def keysFrom(i: Int): Option[DataFrame] =
              if (i >= deltas.size) None
              else Some(layerKeys.drop(i).reduce(_ unionByName _))
            def hintAll(df: DataFrame): DataFrame =
              if (spec.deltaRows.sum <= DeltaBroadcastMaxRows) broadcast(df) else df
            val basePart = base.map(_.join(hintAll(keysFrom(0).get), keys, "left_anti"))
            val layerParts = deltas.indices.map { i =>
              val pruned = prunedDirScan(spark, root, deltas(i), None, preds, residual)
                .filter(!col("__del")).drop("__del")
              keysFrom(i + 1) match {
                case Some(k) => pruned.join(hintAll(k), keys, "left_anti")
                case None => pruned
              }
            }
            (basePart.toSeq ++ layerParts)
              .reduce(_.unionByName(_, allowMissingColumns = true))
        }
        unioned.select(unioned.columns.filter(_ != "bkt").map(col): _*).filter(residual)
    }
  }

  /** One owning directory's range scan: zone-pruned by every predicate
    * its manifest covers, plain when no manifest exists; the residual
    * range filter is applied directly on the scan so it pushes into
    * the parquet reader (file-level zones prune ACROSS files, pushed
    * filters prune row groups WITHIN them). A directory that predates
    * a predicate's column contributes nothing (every row reads null
    * for it, and null never satisfies a range filter) —
    * schema-preserved empty, zero files scanned. */
  private def prunedDirScan(spark: SparkSession, root: String, dir: String,
      bkts: Option[Seq[Int]], preds: Seq[(String, Any, Any)], residual: Column): DataFrame = {
    val dirPath = new File(root, dir).getPath
    def ownedOnly(df: DataFrame): DataFrame =
      bkts.fold(df)(bs => df.filter(col("bkt").isin(bs: _*)))
    val full = ownedOnly(spark.read.parquet(dirPath))
    if (preds.exists { case (c, _, _) => !full.columns.contains(c) })
      return full.filter(lit(false))
    val zm = new File(dirPath, "_zonemap")
    if (!zm.exists()) return full.filter(residual)
    val zones = spark.read.parquet(zm.getPath)
    val overlap = preds.collect {
      case (c, lo, hi) if zones.columns.contains(s"lo_$c") =>
        col(s"lo_$c") <= lit(hi) && col(s"hi_$c") >= lit(lo)
    }
    if (overlap.isEmpty) return full.filter(residual)
    val bset = bkts.map(_.toSet)
    val files = zones
      .filter(overlap.reduce(_ && _))
      .select("file").as(org.apache.spark.sql.Encoders.STRING).collect()
      .filter { rel => // only files of buckets this directory still owns
        rel.startsWith("bkt=") &&
          rel.drop(4).takeWhile(_ != '/').toIntOption
            .exists(b => bset.forall(_(b)))
      }
    if (files.isEmpty) full.filter(lit(false))
    else ownedOnly(spark.read.option("basePath", dirPath)
      .parquet(files.map(rel => new File(dirPath, rel).getPath).toIndexedSeq: _*))
      .filter(residual)
  }

  /** Change feed between two retained versions: the per-key lifecycle
    * (added / removed / changed / unchanged, via [[TableDiff]]'s
    * portable content fingerprints) of version `to` relative to
    * version `from` — the "what did last night's merges actually do"
    * audit, resolved through the manifest chain so it works across
    * merge-published and rollback-published versions alike. One
    * full-outer shuffle join carrying ~48 bytes/row; both sides are
    * partition-pruned bucket assemblies for bucketed tables. */
  def diffVersions(spark: SparkSession, root: String, from: Int, to: Int,
      key: Column, content: Column, keyName: String = "key"): DataFrame =
    TableDiff.snapshotDiff(
      readVersion(spark, root, from), readVersion(spark, root, to),
      key, key, content, content, keyName = keyName)

  /** Change feed between two INSTANTS: [[diffVersions]] with both
    * ends resolved through the publish stamps ([[versionAsOf]]) — the
    * "what changed since last night's report ran" read, no version
    * archaeology. Both instants must land on or after the first
    * publish. Equal resolved versions diff to all-unchanged. */
  def diffAsOf(spark: SparkSession, root: String, fromTs: Long, toTs: Long,
      key: Column, content: Column, keyName: String = "key"): DataFrame = {
    def at(ts: Long): Int = versionAsOf(root, ts).getOrElse(sys.error(
      s"nothing was live under $root at $ts — the instant predates the first publish"))
    diffVersions(spark, root, at(fromTs), at(toTs), key, content, keyName)
  }

  /** The ops-facing table summary (the `DESCRIBE DETAIL` analogue):
    * one (name, value) row per fact of the LIVE version — version,
    * publish stamp, layout contract (key/buckets/rows for bucketed
    * tables), how many distinct directories the owner map spans (the
    * "time to compact?" gauge), zone columns, the widened schema, and
    * the chain length. Manifest-only: no data files are opened. */
  def describe(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val m = currentManifest(root).getOrElse(sys.error(s"no live version under $root"))
    val chain = versions(root)
    val base = Seq(
      "version" -> m.version.toString,
      "path" -> m.path,
      "published_ts" -> chain.find(_.version == m.version).map(_.ts).getOrElse(0L).toString,
      "chain_length" -> chain.length.toString,
      "retained_versions" -> chain.count(x => new File(root, x.path).exists()).toString)
    val bucketed = m.buckets.toSeq.flatMap { spec =>
      Seq(
        "bucket_key" -> spec.key,
        "num_buckets" -> spec.numBuckets.toString,
        "rows" -> spec.rows.toString,
        "owner_directories" -> spec.owner.filter(_.nonEmpty).distinct.length.toString,
        "empty_buckets" -> spec.owner.count(_.isEmpty).toString,
        "delta_layers" -> spec.deltas.length.toString,
        "delta_rows" -> spec.deltaRows.sum.toString,
        "zone_columns" -> spec.zones.mkString(","),
        "key_bloom_bits" -> spec.bloomBits.toString,
        "schema" -> spec.schemaB64.map(b64 =>
          decodeSchema(b64).map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
          .getOrElse("(pre-r14 manifest: derived from footers at read)"))
    }
    (base ++ bucketed).toDF("name", "value")
  }

  /** What [[maintain]] did: the owner-spread gauge before/after, the
    * compaction's published version when the threshold tripped, what
    * vacuum reclaimed, and how many pending patch layers were folded
    * (0 when none were pending). */
  final case class MaintainReport(ownerDirsBefore: Int, compacted: Boolean,
      compactVersion: Option[Int], vacuumed: Seq[String], ownerDirsAfter: Int,
      foldedLayers: Int = 0)

  /** The nightly maintenance job as ONE call — the policy driver over
    * [[describe]]'s gauges: when the live owner map spans more than
    * `maxOwnerDirs` distinct version directories (every read unions
    * one pruned scan per directory, and vacuum must retain all of
    * them), [[compact]]; then [[vacuum]] with the usual retention.
    * Reads are bit-equal across the pass by compact's contract;
    * thresholds not tripped → vacuum only. Unbucketed tables have no
    * owner spread — vacuum only. */
  def maintain(spark: SparkSession, root: String,
      maxOwnerDirs: Int = 4,
      retainLast: Int = 2,
      staleStagingMillis: Long = 24L * 3600 * 1000,
      checks: Seq[Validate.Check] = Seq.empty): MaintainReport = {
    def spread: Int = currentManifest(root).flatMap(_.buckets)
      .map(_.owner.filter(_.nonEmpty).distinct.length).getOrElse(1)
    // pending patch layers fold FIRST (every layer is read
    // amplification on every reconciling scan); folding may widen the
    // owner spread, so the compact gauge is read after
    val pendingLayers = currentManifest(root).flatMap(_.buckets)
      .map(_.deltas.length).getOrElse(0)
    if (pendingLayers > 0) {
      val f = foldDeltas(spark, root, checks)
      require(f.merged, s"maintenance delta fold refused: ${f.reason.getOrElse("")}")
    }
    val before = spread
    val compacted = before > maxOwnerDirs
    val ver = if (compacted) {
      val r = compact(spark, root, checks)
      require(r.promoted, s"maintenance compaction refused: ${r.reason.getOrElse("")}")
      Some(r.version)
    } else None
    val swept = vacuum(root, retainLast, staleStagingMillis)
    MaintainReport(before, compacted, ver, swept, spread, pendingLayers)
  }

  /** Roll back by PUBLISHING: the new live version is
    * `live.version + 1` and its path is the TARGET version's
    * directory — no data is copied, no directory is deleted, and no
    * history entry is ever rewritten (the audit trail shows the
    * rollback as its own version, exactly like every table format
    * with time travel). The rolled-back-from version stays readable
    * via [[readVersion]] for post-mortems until vacuumed. */
  def rollback(root: String, toVersion: Int): Manifest = {
    val live = currentManifest(root).getOrElse(sys.error(s"no live version under $root"))
    require(toVersion != live.version, s"version $toVersion is already live")
    val target = versions(root).find(_.version == toVersion)
      .getOrElse(sys.error(s"version $toVersion was never published under $root"))
    val needed = target.buckets
      .map(b => (b.owner.filter(_.nonEmpty) ++ b.deltas).distinct)
      .getOrElse(Seq(target.path))
    needed.foreach(dir => require(new File(root, dir).exists(),
      s"version $toVersion's data ($dir) was vacuumed"))
    // a bucketed target's owner map rides along — the rollback version
    // reads the same bucket directories the target did
    val next = Manifest(live.version + 1, target.path, Some(live.path), target.buckets)
    writeManifest(root, next)
    next
  }

  /** One-step rollback: re-publish the live version's `previous`
    * directory as the new version. */
  def rollback(root: String): Manifest = {
    val live = currentManifest(root).getOrElse(sys.error(s"no live version under $root"))
    val prev = live.previous.getOrElse(sys.error(s"version ${live.version} has no previous"))
    // resolve through the chain so a bucketed previous version's owner
    // map rides along; pre-chain tables fall back to the bare path
    versions(root).filter(m => m.path == prev && m.version < live.version)
      .sortBy(-_.version).headOption match {
      case Some(target) => rollback(root, target.version)
      case None =>
        require(new File(root, prev).exists(), s"previous version directory $prev is gone")
        val next = Manifest(live.version + 1, prev, Some(live.path))
        writeManifest(root, next)
        next
    }
  }

  /** Retention GC: delete version directories EXCEPT the live one,
    * its `previous` (the in-flight-reader grace set — a reader that
    * resolved the manifest just before a promotion is still scanning
    * it), and the directories of the `retainLast` highest versions in
    * the chain (the time-travel window). Refuses retainLast < 1 — the
    * live version is never collectable. Chain entries are kept even
    * for vacuumed versions, so the audit trail stays complete and
    * [[readVersion]] can say "vacuumed" rather than "unknown".
    *
    * Staging orphans and claim files are swept only past
    * `staleStagingMillis` (default 24 h): vacuum is an independent
    * maintenance op that may race an IN-FLIGHT publish — a fresh
    * `_staging_*` directory is very likely a live writer mid-stage,
    * and deleting files out from under it could let the later rename
    * publish a silently incomplete version. The age gate makes the
    * sweep touch only directories no live publish can still own
    * (size the window above the longest plausible stage+audit).
    *
    * Returns the deleted directory names. */
  def vacuum(root: String, retainLast: Int = 2,
      staleStagingMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    require(retainLast >= 1, "retainLast must be >= 1")
    val m = currentManifest(root).getOrElse(sys.error(s"no live version under $root"))
    val chain = versions(root)
    val retained = chain.sortBy(-_.version).take(retainLast) :+ m
    // a retained bucketed version needs every directory its owner map
    // references, not just its own — merge versions read older dirs,
    // and pending patch layers are read by every reconciling scan
    def refs(b: BucketSpec): Seq[String] = b.owner.filter(_.nonEmpty) ++ b.deltas
    val keep = retained.flatMap(x =>
      x.path +: x.buckets.map(refs).getOrElse(Vector.empty)).toSet ++
      m.previous ++
      chain.filter(x => m.previous.contains(x.path))
        .flatMap(_.buckets.map(refs).getOrElse(Vector.empty))
    val cutoff = System.currentTimeMillis() - staleStagingMillis
    val entries = Option(new File(root).listFiles()).getOrElse(Array.empty)
    val doomed = entries
      .filter(f => f.isDirectory &&
        ((f.getName.matches("v\\d{5}") && !keep(f.getName)) ||
          // crashed publishes' nonce-suffixed staging orphans — never
          // referenced by any manifest; age-gated per the doc above
          (f.getName.startsWith("_staging_") && f.lastModified() <= cutoff)))
    doomed.foreach(rmTree)
    // crashed publishes' commit-slot claims (a committed publish deletes
    // its claim; only a crash strands one) — same age gate
    entries.filter(f => f.isFile && f.getName.startsWith("_claim_") &&
      f.lastModified() <= cutoff).foreach(_.delete())
    doomed.map(_.getName).toSeq.sorted
  }
}
