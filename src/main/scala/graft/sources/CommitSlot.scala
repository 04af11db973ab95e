package graft.sources

import java.io.File

/** The single-writer commit protocol behind every publish of
  * [[Versioned]] and [[graft.dedup.ClusterLedger]] (and the claim
  * under the index family's compaction, [[TableCompact]]).
  *
  * A writer resolves the live pointer, stages its new version into a
  * private nonce-suffixed directory, audits it, and then calls
  * [[commit]], which moves the staging directory into the version slot
  * in five steps:
  *
  *  1. optimistic check — refuse if the live pointer moved while this
  *     writer staged (renaming over the newer publish would orphan its
  *     committed data);
  *  2. atomic slot claim ([[acquire]]) — exactly one writer owns a
  *     version slot; a claim clearly older than this publish's start
  *     (a crashed attempt's leftover under the single-writer contract)
  *     is stolen, a fresher one is a racing writer mid-commit: refuse;
  *  3. re-check under the claim — a winner releases its claim only
  *     AFTER its pointer swap, so "claim owned ∧ pointer unmoved" means
  *     no other writer can have renamed into this slot;
  *  4. ownership re-verify ([[Claim.owned]]) immediately before the
  *     reclaim of a crashed claimant's leftover target and again before
  *     the rename — a writer whose claim was stolen mid-stall refuses
  *     instead of deleting the usurper's just-committed data;
  *  5. rename staging → target.
  *
  * The caller then swaps its pointer and releases the claim. On any
  * conflict the staging directory is removed and
  * [[ConcurrentWriteException]] is thrown; [[retrying]] replays a
  * publish that lost the race.
  *
  * Claims are nonce-verified: the claim file's CONTENT is the owner's
  * nonce, so ownership can be re-verified at any time; a steal is ONE
  * atomic rename of the stale claim to a nonce-suffixed graveyard name
  * (of N concurrent stealers exactly one wins the rename); acquisition
  * ends with a content read-back, so a writer whose claim was stolen
  * between its write and the read-back refuses before touching the
  * slot. (A bare delete-then-create steal would let two retrying
  * writers interleave delete→create→delete→create and BOTH believe
  * they owned the slot.)
  *
  * Staleness is mtime-based (`lastModified < startedMs` minus a slack),
  * so the residual window is a writer that stalls longer than a
  * retry's whole stage+audit between its last ownership re-verify and
  * the very next filesystem op — one instruction boundary, not the
  * claim-to-commit span. On object stores without atomic
  * create/rename, point commits at a consistent metadata service
  * (every manifest-based table format's caveat).
  *
  * Graveyard files (`<claim>.stale.<nonce>`) are deleted by the
  * winning stealer immediately; a crash between rename and delete
  * strands one, swept by the owners' vacuum passes (they match the
  * claim-file prefix). */
object CommitSlot {

  /** A held (or believed-held) claim. Ownership can be re-verified at
    * any time; release deletes the file only when still owned (never
    * a usurper's claim). */
  final class Claim private[CommitSlot] (val file: File, nonce: String) {
    /** True iff the claim file still exists and carries OUR nonce —
      * i.e. no other writer has stolen the slot. */
    def owned(): Boolean =
      try {
        file.exists() &&
          new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8") == nonce
      } catch { case _: java.io.IOException => false }

    /** Delete the claim iff still owned (a committed writer's normal
      * exit). A stolen claim belongs to the usurper — left alone. */
    def release(): Unit = if (owned()) file.delete()
  }

  /** Filesystem mtime can lag the JVM clock (kernel coarse clock,
    * second-granularity stores), making a claim created a moment AFTER
    * a publish began look older than it — a live claimant would be
    * stolen from. The slack means "stale" requires the claim to
    * predate the stealer's publish by a clear margin; genuine crashed
    * leftovers are a full stage+audit+backoff older, far past it. */
  private val StealSlackMs = 2000L

  /** Acquire the slot named by `file`. A pre-existing claim CLEARLY
    * OLDER than `startedMs` (it predates this writer's whole publish
    * by more than the mtime slack — under the single-writer contract,
    * a crashed attempt's leftover) is stolen atomically; a fresher
    * claim is a racing writer mid-commit. Returns None on any
    * conflict — the caller refuses without touching the slot. */
  def acquire(file: File, startedMs: Long): Option[Claim] = {
    val nonce = java.util.UUID.randomUUID().toString
    def writeAndVerify(): Option[Claim] = {
      java.nio.file.Files.write(file.toPath, nonce.getBytes("UTF-8"))
      val c = new Claim(file, nonce)
      // read-back: if a stealer renamed this claim away and re-created
      // it between our write and here, we see a foreign nonce — refuse
      if (c.owned()) Some(c) else None
    }
    try {
      if (file.createNewFile()) writeAndVerify()
      else if (file.lastModified() + StealSlackMs < startedMs) {
        // atomic steal: exactly one of N concurrent stealers wins the
        // rename of the stale claim to its private graveyard name
        val grave = new File(file.getParentFile, s"${file.getName}.stale.$nonce")
        if (!file.renameTo(grave)) None
        else {
          grave.delete()
          if (file.createNewFile()) writeAndVerify() else None
        }
      } else None
    } catch { case _: java.io.IOException => None }
  }

  /** Fault seam: called at named points of every publish and
    * compaction (`versioned.staged`, `ledger.claimed`,
    * `compact.swapped`, `ivf.before-swap`, …) so a test can crash a
    * writer there, or hold it until a racing writer arrives. Production
    * never sets it. */
  @volatile private[graft] var hook: String => Unit = _ => ()

  private[graft] def at(point: String): Unit = hook(point)

  /** Move `staging` into the version slot `target` under the claim
    * `claimFile` — steps 1–5 of the protocol above. `readLive` reads
    * the live pointer and `startedFrom` is the value this writer
    * resolved before staging; `refusal` renders the conflict message
    * from the pointer value observed. Fault points: `<seam>.commit`
    * before the optimistic check, `<seam>.claimed` after the re-check.
    * Returns the held claim: the caller swaps its pointer, then
    * releases it. */
  def commit[P](claimFile: File, startedMs: Long, staging: File, target: File, seam: String,
      readLive: () => P, startedFrom: P, refusal: P => String): Claim = {
    def refuse(now: P): Nothing = {
      rmTree(staging)
      throw new ConcurrentWriteException(refusal(now))
    }
    at(s"$seam.commit")
    val now1 = readLive()
    if (now1 != startedFrom) refuse(now1)
    val claim = acquire(claimFile, startedMs).getOrElse(refuse(startedFrom))
    val now2 = readLive()
    if (now2 != startedFrom) { claim.release(); refuse(now2) }
    at(s"$seam.claimed")
    if (!claim.owned()) refuse(startedFrom)
    if (target.exists()) rmTree(target) // crashed claimant's rename leftover
    if (!claim.owned()) refuse(startedFrom)
    if (!staging.renameTo(target)) {
      claim.release()
      rmTree(staging)
      sys.error(s"commit rename failed: $staging -> $target")
    }
    claim
  }

  /** Run `body(attempt)` for attempt = 1, 2, … until it returns,
    * replaying only a lost race ([[ConcurrentWriteException]]) with
    * linear backoff (`backoffMs × attempt`); any other failure
    * propagates at once, and after `attempts` conflicts the last one
    * is rethrown. */
  def retrying[A](attempts: Int, backoffMs: Long)(body: Int => A): A = {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
    def run(attempt: Int): A =
      try body(attempt)
      catch {
        case _: ConcurrentWriteException if attempt < attempts =>
          Thread.sleep(backoffMs * attempt)
          run(attempt + 1)
      }
    run(1)
  }

  private[graft] def rmTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete()
  }
}
