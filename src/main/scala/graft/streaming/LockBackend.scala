package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, RawLocalFileSystem, Path => HPath}

/** The mutual-exclusion primitive behind [[Streaming.withStoreLock]]:
  * every standing store's lease touches its Hadoop filesystem through
  * these methods alone.
  *
  * [[tryAcquire]] is ATOMIC against concurrent callers on local
  * filesystems (kernel-arbitrated `O_EXCL` create) and on HDFS
  * (namenode-arbitrated create-if-absent): of N racing attempts on
  * the same absent `lock`, at most one returns `Some`, and the
  * winner's token is what [[readToken]] returns until the lock is
  * released or broken. For any OTHER scheme it falls back to create +
  * settle + double read-back, which narrows but cannot CLOSE the
  * duplicate-grant window — which is why [[Streaming.withStoreLock]]
  * rejects known flat-namespace object stores (s3a and friends) up
  * front unless the user accepts the risk explicitly
  * (`graft.lease.assumeAtomicCreate=true` in the hadoop conf).
  */
private[graft] object LockBackend {

  /** Read-back spacing of the unknown-scheme fallback in
    * [[tryAcquire]] (local and HDFS never settle — their create is
    * atomic). */
  private val SettleMs = 30L

  private def localFile(fs: FileSystem, lock: HPath): java.io.File =
    new java.io.File(fs.makeQualified(lock).toUri.getPath)

  /** One attempt to take `lock`: atomically create it bearing a
    * fresh unique token and return `Some(token)` on VERIFIED
    * ownership; `None` when the lock is held by someone else (the
    * caller re-polls and handles staleness). */
  def tryAcquire(fs: FileSystem, lock: HPath): Option[String] = {
    val token = newToken()
    val bytes = token.getBytes(StandardCharsets.UTF_8)
    fs match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        // O_EXCL create via NIO — the KERNEL arbitrates, so exactly
        // one of N racing creators succeeds. Hadoop's own local
        // create(overwrite = false) exists-checks then creates in
        // userland, a race the settle-and-read-back below only
        // narrows
        try {
          val f = localFile(fs, lock)
          Option(f.getParentFile)
            .foreach(p => java.nio.file.Files.createDirectories(p.toPath))
          java.nio.file.Files.write(f.toPath, bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW)
          Some(token)
        } catch { case _: java.io.IOException => None }
      case _ if fs.getUri.getScheme == "hdfs" =>
        // HDFS create(overwrite = false) is namenode-arbitrated —
        // exactly one concurrent creator succeeds; no settle needed
        try {
          val out = fs.create(lock, false)
          try out.write(bytes) finally out.close()
          Some(token)
        } catch { case _: java.io.IOException => None }
      case _ =>
        // unknown scheme: create-if-absent may be check-then-create.
        // Settle, then read back TWICE (both reads must bear our
        // token) so N racing creators settle to at most one verified
        // owner — a duplicate grant now needs the competing write to
        // land after BOTH of our spaced reads. Narrows but cannot
        // close the window, which is why withStoreLock's probe
        // REJECTS known flat object stores rather than relying on
        // this path
        try {
          val out = fs.create(lock, false)
          try out.write(bytes) finally out.close()
          Thread.sleep(SettleMs)
          val r1 = readToken(fs, lock)
          Thread.sleep(SettleMs)
          if (r1.contains(token) && readToken(fs, lock).contains(token))
            Some(token)
          else None
        } catch { case _: java.io.IOException => None }
    }
  }

  /** The token `lock` currently bears, `None` if absent or
    * unreadable — the fence every destructive path checks before
    * touching the file. Reads to EOF in a loop: the InputStream
    * contract permits short reads, and a partially-read token would
    * fail the release fence and leak the lease for the full stale
    * window. */
  def readToken(fs: FileSystem, lock: HPath): Option[String] =
    try {
      val in = fs.open(lock)
      try {
        val buf = new Array[Byte](256)
        var off = 0
        var n = 0
        while (n >= 0 && off < buf.length) {
          n = in.read(buf, off, buf.length - off)
          if (n > 0) off += n
        }
        Some(new String(buf, 0, off, StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** `lock`'s liveness signal (mtime — a live holder heartbeats it
    * forward), `None` if absent. */
  def mtime(fs: FileSystem, lock: HPath): Option[Long] =
    try Some(fs.getFileStatus(lock).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** Advance `lock`'s liveness signal — ONLY while it still bears
    * `token`. A holder paused past the stale window whose lease was
    * broken and re-granted must not freshen the NEW holder's lock:
    * an unfenced beat from such a zombie would keep a dead re-granted
    * lease reading as live for as long as the zombie's body runs,
    * wedging every later waiter into the timeout. Called from the
    * holder's heartbeat daemon; transient errors are swallowed by the
    * caller (a missed beat only matters if repeated for the stale
    * window). */
  def heartbeat(fs: FileSystem, lock: HPath, token: String): Unit =
    if (readToken(fs, lock).contains(token))
      fs.setTimes(lock, System.currentTimeMillis(), -1)

  /** Break `lock`, OBSERVED stale at mtime `m`, by claim-by-rename —
    * never delete-then-create: rename the lock to a waiter-unique
    * `.break.<uuid>` claim path (rename is atomic on hierarchical
    * filesystems — exactly one of N racing waiters wins; the losers'
    * renames fail and they re-poll), then verify the claimed file IS
    * the one observed stale (rename preserves mtime; a FRESH lock
    * created by a competing breaker in the observe→rename window
    * reads a different mtime and is restored to the rightful
    * holder). Only a verified claim is discarded. */
  def breakStale(fs: FileSystem, lock: HPath, m: Long): Unit = {
    // re-observe immediately before the rename: if the mtime moved
    // (heartbeat, or a competing breaker's fresh lock) this waiter
    // must not touch the file at all
    if (!mtime(fs, lock).contains(m)) return
    val claim = new HPath(lock.getParent,
      s"${lock.getName}.break.${java.util.UUID.randomUUID()}")
    val renamed =
      try fs.rename(lock, claim)
      catch { case _: java.io.IOException => false }
    if (renamed) {
      if (mtime(fs, claim).contains(m)) fs.delete(claim, false)
      else
        // the mtime mismatch PROVES the claim is a FRESH lease whose
        // holder is alive — restore it, never delete it
        restoreOrPark(fs, claim, lock).foreach { orphan =>
          throw new IllegalStateException(
            s"store lease break claimed a LIVE lock $lock and could " +
              s"not restore it (the path was occupied); parked it at " +
              s"$orphan — resolve by hand before resuming")
        }
    }
  }

  /** Fenced release: remove `lock` only while it still bears
    * `token`. A holder paused past the stale window whose lease was
    * broken and re-granted must not delete the new holder's live
    * lock. It captures by RENAME before deleting — plain
    * check-then-delete leaves a millisecond window where a breaker
    * re-grants the lease between the check and the delete and the
    * delete removes the new holder's live lock; renaming to a
    * holder-unique name atomically captures WHATEVER file is at the
    * path, and only a captured file verified to bear our token is
    * deleted (a captured foreign lock is restored). Never throws an
    * IOException — release runs in `finally` paths. */
  def release(fs: FileSystem, lock: HPath, token: String): Unit =
    try {
      // a TRANSIENT read failure is retried — treating it as
      // token-mismatch would leak the lease and stall every waiter
      // for the stale window
      var tok = readToken(fs, lock)
      var tries = 0
      while (tok.isEmpty && tries < 5 && mtime(fs, lock).nonEmpty) {
        Thread.sleep(25); tok = readToken(fs, lock); tries += 1
      }
      if (tok.contains(token)) {
        val cap = new HPath(lock.getParent,
          s"${lock.getName}.release.${java.util.UUID.randomUUID()}")
        val captured =
          try fs.rename(lock, cap)
          catch { case _: java.io.IOException => false }
        if (captured) {
          if (readToken(fs, cap).contains(token)) fs.delete(cap, false)
          else restoreOrPark(fs, cap, lock).foreach { o =>
            System.err.println(s"[lease] release of $lock captured a " +
              s"FOREIGN live lock (lease was broken and re-granted in " +
              s"the check→capture window) and could not restore it; " +
              s"parked at $o — resolve by hand")
          }
        }
        // !captured: the lock vanished or was replaced mid-release —
        // no longer ours to remove; the path's new state is someone
        // else's lease (or absence)
      } else if (mtime(fs, lock).nonEmpty)
        System.err.println(s"[lease] lock $lock no longer bears " +
          "this holder's token at release (lease was broken and " +
          "re-granted while paused, or the token stayed " +
          "unreadable) — leaving the lock in place")
    } catch {
      // release runs in `finally` on the multi-root path: a transient
      // IO failure here must not abort the remaining releases (that
      // would leak every still-held lock for the stale window) nor
      // mask the body's own exception. The worst case of swallowing
      // is a lock the stale window reclaims; fsck surfaces the
      // leftover .release. husk
      case e: java.io.IOException =>
        System.err.println(s"[lease] release of $lock failed with " +
          s"$e — leaving it to the stale window / fsck")
    }

  /** A fresh lease token: `<pid>@<host>/<uuid>`. The uuid makes it
    * unique (the fence compares the WHOLE string); the pid@host
    * prefix is operator telemetry — `cat .store.lock` (or the
    * waiter's periodic "waiting on" log line) names the holder, so a
    * live long hold is distinguishable from a leaked lease without
    * running fsck. The prefix is truncated by ENCODED UTF-8 bytes
    * (not chars — a non-ASCII hostname could otherwise push the
    * token past [[readToken]]'s 256-byte fence read, and a fence
    * that never matches would leak every lease for the stale
    * window). */
  private[streaming] def newToken(): String = {
    var who = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName
    while (who.getBytes(StandardCharsets.UTF_8).length > 180)
      who = who.dropRight(1)
    // the byte trim can cut a surrogate PAIR in half; a lone high
    // surrogate does not round-trip through UTF-8 ('?' on encode), so
    // the in-memory token would never equal its own read-back and
    // every fence would fail — drop it
    if (who.nonEmpty && Character.isHighSurrogate(who.last))
      who = who.dropRight(1)
    s"$who/${java.util.UUID.randomUUID()}"
  }

  /** Restore a claimed/captured file back to the lock path without
    * ever replacing a lock that is there: a newcomer may have taken
    * the vacated path, and overwriting its lock would grant the lease
    * twice. If the path is occupied, park the file at a
    * `.orphan.<uuid>` sibling (the live holder's lease evidence for a
    * human to adjudicate — NEVER delete it) and return the orphan
    * path. `None` = restored.
    *
    * `rename` cannot restore safely everywhere: `RawLocalFileSystem`'s
    * replaces its destination. On local disk the restore is a hard
    * link to the lock path, which the kernel refuses if the path
    * exists (like [[tryAcquire]]'s `O_EXCL` create), and the claim is
    * removed after. Elsewhere it is a rename after an occupancy check;
    * HDFS's rename refuses an existing destination by itself. */
  private def restoreOrPark(fs: FileSystem, claim: HPath,
      lock: HPath): Option[HPath] = {
    val restored = fs match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        val linked =
          try {
            java.nio.file.Files.createLink(localFile(fs, lock).toPath,
              localFile(fs, claim).toPath)
            true
          } catch { case _: java.io.IOException => false }
        if (linked) fs.delete(claim, false)
        linked
      case _ =>
        !fs.exists(lock) &&
          (try fs.rename(claim, lock)
          catch { case _: java.io.IOException => false })
    }
    if (restored) None
    else {
      val orphan = new HPath(lock.getParent,
        s"${lock.getName}.orphan.${java.util.UUID.randomUUID()}")
      fs.rename(claim, orphan)
      Some(orphan)
    }
  }

  /** Flat-namespace object-store schemes whose create/rename are not
    * atomic: a lease there cannot guarantee mutual exclusion through
    * filesystem primitives alone, so [[Streaming.withStoreLock]]
    * fails loudly at acquire instead of degrading silently. (abfs is
    * absent: a hierarchical-namespace Azure account does provide
    * atomic rename; flat accounts should use wasb, which is listed.) */
  private[streaming] val unsafeSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "swift", "oss", "cos", "cosn", "obs",
      "gs", "wasb", "wasbs", "adl")
}
