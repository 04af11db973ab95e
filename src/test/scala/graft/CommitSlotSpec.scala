package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CommitSlot, ConcurrentWriteException}

/** Nonce-verified commit-slot claims: ownership is re-verifiable, a
  * steal is one atomic rename (two stealers can never both win), and
  * a stalled writer whose claim was stolen must observe the loss
  * instead of releasing (or deleting data under) the usurper's claim.
  * `commit` is the one claim → re-check → rename step every Versioned
  * and ClusterLedger publish runs, and `retrying` the one replay loop
  * around it. */
class CommitSlotSpec extends AnyFunSuite {

  private def freshClaim(): File = {
    val dir = Files.createTempDirectory("graft_slot").toFile
    new File(dir, "_claim_v00002")
  }

  test("fresh acquire owns; a racing writer refuses; release deletes only when owned") {
    val f = freshClaim()
    val t0 = System.currentTimeMillis()
    val a = CommitSlot.acquire(f, t0).getOrElse(fail("first acquire must win"))
    assert(a.owned())
    // a second writer whose publish started at-or-after the claim's
    // creation sees a FRESH claim (a racer mid-commit) and refuses
    assert(CommitSlot.acquire(f, t0).isEmpty)
    assert(CommitSlot.acquire(f, System.currentTimeMillis()).isEmpty)
    a.release()
    assert(!f.exists() && !a.owned())
  }

  test("a stale claim is stolen; the stalled original observes the loss and never releases the usurper's") {
    val f = freshClaim()
    val a = CommitSlot.acquire(f, System.currentTimeMillis()).get
    assert(a.owned())
    // age the claim into the past: to a retrying writer that started
    // NOW, it predates the whole publish — a crashed attempt's leftover
    assert(f.setLastModified(System.currentTimeMillis() - 3600000L))
    val b = CommitSlot.acquire(f, System.currentTimeMillis())
      .getOrElse(fail("stale claim must be stealable"))
    assert(b.owned())
    // the stalled original detects the steal at its next re-verify —
    // the check Versioned/ClusterLedger run before rmTree/renameTo
    assert(!a.owned())
    // and its release must NOT delete the usurper's claim
    a.release()
    assert(b.owned())
    b.release()
    assert(!f.exists())
  }

  test("N concurrent stealers of one stale claim: at most one ends up owning") {
    val f = freshClaim()
    val a = CommitSlot.acquire(f, System.currentTimeMillis()).get
    assert(f.setLastModified(System.currentTimeMillis() - 3600000L))
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(4)
    val now = System.currentTimeMillis()
    val futures = (1 to 4).map(_ =>
      pool.submit(new java.util.concurrent.Callable[Option[CommitSlot.Claim]] {
        def call() = CommitSlot.acquire(f, now)
      }))
    val claims = futures.flatMap(_.get())
    pool.shutdown()
    // whatever interleaving happened, the end state has EXACTLY one
    // owner among the stealers (the rename is the atomic arbiter; a
    // doubly-stolen claim resolves by the nonce read-back), and the
    // aged original lost
    assert(claims.count(_.owned()) === 1, s"${claims.size} stealers returned claims")
    assert(!a.owned())
    // no graveyard litter outlives the scramble's winners' cleanup
    val leftovers = f.getParentFile.listFiles().map(_.getName)
      .filter(_.contains(".stale."))
    assert(leftovers.isEmpty, leftovers.toSeq)
  }

  /** A slot directory with a staged version (one data file) and the
    * paths `commit` works on. */
  private def stagedSlot(): (File, File, File) = {
    val dir = Files.createTempDirectory("graft_commit").toFile
    val staging = new File(dir, "_staging_v00002_1")
    staging.mkdirs()
    Files.write(new File(staging, "part-0").toPath, "new".getBytes("UTF-8"))
    (new File(dir, "_claim_v00002"), staging, new File(dir, "v00002"))
  }

  private def commit(claim: File, staging: File, target: File, live: => Int,
      startedMs: Long = System.currentTimeMillis()): CommitSlot.Claim =
    CommitSlot.commit(claim, startedMs, staging, target, "spec", () => live, 1,
      (now: Int) => s"live moved 1 -> $now")

  test("commit refuses when the pointer moved before the claim: staging removed, target untouched") {
    val (claim, staging, target) = stagedSlot()
    val e = intercept[ConcurrentWriteException](commit(claim, staging, target, live = 2))
    assert(e.getMessage === "live moved 1 -> 2")
    assert(!staging.exists(), "the loser's staging is removed")
    assert(!target.exists(), "the slot is untouched")
    assert(!claim.exists(), "the loser never claimed the slot")
  }

  test("commit refuses when its claim is overwritten after acquire; the existing target survives") {
    val (claim, staging, target) = stagedSlot()
    target.mkdirs()
    Files.write(new File(target, "part-0").toPath, "winner".getBytes("UTF-8"))
    // between the re-check and the rename, another writer judges this
    // one crashed and takes the slot: the claim now carries its nonce
    Seams.onceAt("spec.claimed")(
      Files.write(claim.toPath, "foreign-nonce".getBytes("UTF-8")))
    val e = try intercept[ConcurrentWriteException](commit(claim, staging, target, live = 1))
    finally Seams.disarm()
    assert(e.getMessage === "live moved 1 -> 1")
    assert(!staging.exists())
    assert(new String(Files.readAllBytes(new File(target, "part-0").toPath), "UTF-8") ===
      "winner", "the usurper's committed data is left intact")
    assert(new String(Files.readAllBytes(claim.toPath), "UTF-8") === "foreign-nonce")
  }

  test("commit reclaims a crashed claimant's leftover target and renames into it") {
    val (claim, staging, target) = stagedSlot()
    // a crashed attempt: its claim is stranded (and old), its rename landed
    Files.write(claim.toPath, "crashed".getBytes("UTF-8"))
    assert(claim.setLastModified(System.currentTimeMillis() - 3600000L))
    target.mkdirs()
    Files.write(new File(target, "stale-part").toPath, "old".getBytes("UTF-8"))
    val held = commit(claim, staging, target, live = 1)
    assert(held.owned())
    assert(!staging.exists())
    assert(target.list().toSet === Set("part-0"), "the leftover is replaced by the staged version")
    held.release()
    assert(!claim.exists())
  }

  test("retrying replays only a lost race, with the attempt number") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = CommitSlot.retrying(attempts = 5, backoffMs = 1L) { attempt =>
      seen += attempt
      if (attempt < 3) throw new ConcurrentWriteException(s"lost $attempt")
      attempt * 10
    }
    assert(out === 30 && seen.toSeq === Seq(1, 2, 3))
  }

  test("retrying propagates any other failure on the first attempt") {
    var calls = 0
    val e = intercept[IllegalStateException](CommitSlot.retrying(5, 1L) { _ =>
      calls += 1
      throw new IllegalStateException("validation blew up")
    })
    assert(e.getMessage === "validation blew up" && calls === 1)
  }

  test("retrying rethrows the last conflict after `attempts`; attempts < 1 is refused") {
    var calls = 0
    val e = intercept[ConcurrentWriteException](CommitSlot.retrying(3, 1L) { attempt =>
      calls += 1
      throw new ConcurrentWriteException(s"lost $attempt")
    })
    assert(e.getMessage === "lost 3" && calls === 3)
    intercept[IllegalArgumentException](CommitSlot.retrying(0, 1L)(_ => calls += 1))
    assert(calls === 3, "a refused call never runs the body")
  }
}
