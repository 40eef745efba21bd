package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}

/** Another maintenance agent holds the lake's lease. */
class LeaseHeldException(msg: String) extends IllegalStateException(msg)

/** A destructive sweep's fencing check failed: the pass's lease is no
  * longer the lake's current valid lease (expired mid-pass, taken over
  * by a successor, or released) — the sweep must stop deleting. */
class LeaseFencedException(msg: String) extends IllegalStateException(msg)

/** The SINGLE-MAINTENANCE-AGENT lock — an expiring lease under
  * `_manifests/lease/`, making the constraint the shrink-side ops
  * (vacuum, feed expiry — see [[graft.MaintenanceMain]]) have always
  * documented ENFORCED: a second daemon pointed at the same lake now
  * refuses loudly instead of silently interleaving two writer
  * sequences (undefined behavior — double vacuums racing each other's
  * retire sets, two feed deliveries fighting over the high water).
  *
  * Mechanics — versioned lease files riding the manifests' atomic
  * NO-OVERWRITE commit primitive ([[SidecarIO.create]]), the
  * same arbiter OCC manifest publishes trust:
  *
  *  - the CURRENT lease is the highest `lease-v<N>` file; acquiring or
  *    renewing writes `v(N+1)` — two racers on the same version number
  *    reduce to one winner and one [[VersionCollisionException]], which
  *    re-reads and bounces off the winner's fresh lease;
  *  - a lease EXPIRES by wall clock (`ttlMs`): a crashed daemon's
  *    lease simply ages out and the next acquirer takes over — no
  *    manual unlock step, the standard expiring-lease liveness trade
  *    (size the TTL well above a pass duration so a live holder
  *    renews long before expiry);
  *  - RELEASE publishes an already-expired marker version (never
  *    deletes — version numbers stay monotonic, so a release racing
  *    an acquire still arbitrates through the no-overwrite write);
  *  - superseded lease files are deleted AFTER the new version lands
  *    (readers take the max version, so sweeping losers/history races
  *    nothing).
  *
  * Clock caveat (documented, not solved — same as every expiring
  * lease): mutual exclusion holds for agents whose clocks agree to
  * within the TTL slack; a holder that stalls past its own expiry
  * (GC pause through the whole TTL) can overlap a takeover. Size
  * `ttlMs` accordingly — minutes, not seconds.
  */
object MaintenanceLease {

  def leaseDir(lakePath: String): String =
    s"${FileManifest.manifestDir(lakePath)}/lease"

  final case class Lease(version: Long, owner: String, expiresAt: Long) {
    def expired(nowMs: Long): Boolean = expiresAt <= nowMs
  }

  private def leasePath(lakePath: String, v: Long): Path =
    new Path(leaseDir(lakePath), f"lease-v$v%012d.lease")

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("lease-v") && name.endsWith(".lease"))
      scala.util.Try(name.stripPrefix("lease-v")
        .stripSuffix(".lease").toLong).toOption
    else None

  /** The current (highest-version) lease, expired or not. */
  def current(fs: FileSystem, lakePath: String): Option[Lease] = {
    val dir = new Path(leaseDir(lakePath))
    if (!fs.exists(dir)) return None
    val vs = fs.listStatus(dir).iterator
      .flatMap(s => parseVersion(s.getPath.getName)).toSeq
    if (vs.isEmpty) return None
    val v = vs.max
    scala.util.Try {
      val line = SidecarIO.readString(fs, leasePath(lakePath, v)).trim
      val Array(owner, exp) = line.split('\t')
      Lease(v, owner, exp.toLong)
    }.toOption
  }

  /** Acquire (or RENEW — same verb for the current holder) the lake's
    * maintenance lease for `ttlMs` from now. Throws
    * [[LeaseHeldException]] when another owner's unexpired lease
    * exists — the second-daemon bounce. Returns the new lease. */
  def acquire(fs: FileSystem, lakePath: String, owner: String,
              ttlMs: Long): Lease = {
    require(ttlMs > 0, s"lease ttlMs must be > 0: $ttlMs")
    require(!owner.contains('\t') && !owner.contains('\n') &&
      owner.nonEmpty, s"illegal lease owner id: '$owner'")
    val now = System.currentTimeMillis()
    val cur = current(fs, lakePath)
    cur.filter(l => l.owner != owner && !l.expired(now)).foreach { l =>
      throw new LeaseHeldException(
        s"maintenance lease on $lakePath is held by '${l.owner}' until " +
          s"${l.expiresAt} (${l.expiresAt - now} ms from now) — one " +
          "maintenance agent per lake; stop the other daemon or wait " +
          "for its lease to expire")
    }
    val v = cur.map(_.version + 1).getOrElse(1L)
    val lease = Lease(v, owner, now + ttlMs)
    try SidecarIO.create(fs, leasePath(lakePath, v),
      s"$owner\t${lease.expiresAt}\n".getBytes(UTF_8))
    catch {
      case _: VersionCollisionException =>
        // a racer won this version number — bounce off their lease
        // (re-acquire would spin; the loser is by definition second)
        val winner = current(fs, lakePath)
        throw new LeaseHeldException(
          s"maintenance lease on $lakePath was just taken by " +
            s"'${winner.map(_.owner).getOrElse("?")}' — one " +
            "maintenance agent per lake")
    }
    // POST-WRITE VERIFICATION — the stale-read guard: a listing that
    // raced another acquirer's sweep can miss BOTH the swept old
    // version and the fresh one, making this write land at a LOW
    // version number that collides with nothing. The no-overwrite
    // rename alone cannot arbitrate that; re-reading the maximum
    // after our write can — by the time our file is visible, any
    // lease that made our read stale is visible too, so whoever's
    // file is NOT the max loses (ours is superseded garbage, swept by
    // the winner's next acquire).
    val post = current(fs, lakePath)
    if (!post.exists(l => l.version == v && l.owner == owner))
      throw new LeaseHeldException(
        s"maintenance lease on $lakePath is held by " +
          s"'${post.map(_.owner).getOrElse("?")}' (acquired past a " +
          "stale listing) — one maintenance agent per lake")
    // sweep superseded versions (readers take the max and the
    // post-write verification above arbitrates stale readers, so this
    // races nothing); best-effort — leftovers re-sweep next acquire
    val dir = new Path(leaseDir(lakePath))
    scala.util.Try {
      fs.listStatus(dir).foreach { s =>
        parseVersion(s.getPath.getName).filter(_ < v)
          .foreach(_ => fs.delete(s.getPath, false): Unit)
      }
    }: Unit
    lease
  }

  /** Release the lease if `owner` holds it: publishes an already-
    * expired marker version (monotonic — never deletes the current
    * file, so a release racing an acquire still arbitrates through
    * the no-overwrite write). False when `owner` no longer holds it
    * (expired and taken over, or never held). */
  def release(fs: FileSystem, lakePath: String, owner: String): Boolean =
    current(fs, lakePath) match {
      case Some(l) if l.owner == owner =>
        scala.util.Try(SidecarIO.create(fs,
          leasePath(lakePath, l.version + 1), s"$owner\t0\n".getBytes(UTF_8)))
          .isSuccess
      case _ => false
    }

  /** FENCING TOKEN check for destructive batches — the standard
    * discipline an expiring lease needs on its delete path: a zombie
    * holder whose pass outlives its TTL (GC pause, slow FS) would
    * otherwise keep deleting while a successor holds the lease.
    * Vacuum/retention sweeps call this immediately before EACH delete
    * batch ([[History.vacuum]]'s `fence` hook); it throws
    * [[LeaseFencedException]] unless the lake's CURRENT lease is the
    * token's owner's and unexpired — same owner at a higher version is
    * a renewal by this process and passes. Cost: one lease-dir listing
    * + one tiny read per batch, never data-proportional.
    *
    * Check-then-act is still not atomic: a lease can expire between a
    * fence that passed and the mutation it guarded. Vacuum closes the
    * DATA side of that window structurally — its batches only RENAME
    * into a pass-tokened trash dir, and the one irreversible purge
    * runs behind its own fence at pass end (see [[History.vacuum]] /
    * [[History.restoreTrash]]) — so the residual stale-check window
    * destroys nothing a successor could still need. */
  def checkFence(fs: FileSystem, lakePath: String, token: Lease): Unit = {
    val now = System.currentTimeMillis()
    val cur = current(fs, lakePath)
    val ok = cur.exists(l => l.owner == token.owner &&
      l.version >= token.version && !l.expired(now))
    if (!ok)
      throw new LeaseFencedException(
        s"lease fencing on $lakePath: this pass's lease (v" +
          s"${token.version}, '${token.owner}') is no longer current " +
          s"and valid (current: ${cur.map(l => s"v${l.version} '" +
            l.owner + "' until " + l.expiresAt).getOrElse("none")}) — " +
          "the pass outlived its TTL or was superseded; deleting " +
          "nothing further")
  }
}
