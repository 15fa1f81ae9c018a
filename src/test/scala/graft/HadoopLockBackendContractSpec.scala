package graft

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import graft.streaming.{LockBackend, Streaming}

/** The at-most-one-grant contract of the store lease ([[LockBackend]]),
  * driven through exactly the calls [[Streaming.withStoreLock]] makes,
  * on local disk (kernel-arbitrated `O_EXCL` create), plus the
  * unknown-scheme settle-and-read-back path and a throwing heartbeat
  * through [[FaultyLocalFs]]. */
class HadoopLockBackendContractSpec extends SparkSpec {

  /** A FRESH, absent lock location per call — tests never share one. */
  private def freshLock(): (FileSystem, HPath) = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lockcontract").toString
    val p = new HPath(s"$tmp/.store.lock")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def name = this.getClass.getSimpleName

  test(s"$name: of 16 racing acquirers on one absent lock, EXACTLY " +
      "one is granted, and the lock bears the winner's token") {
    val (fs, lock) = freshLock()
    val grants = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new java.util.concurrent.CountDownLatch(1)
    val ths = (1 to 16).map { _ =>
      new Thread(() => {
        try {
          start.await()
          LockBackend.tryAcquire(fs, lock).foreach(grants.add)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ths.foreach(_.start()); start.countDown(); ths.foreach(_.join(30000L))
    assert(errs.isEmpty, s"acquirer threw on contention: ${errs.peek()}")
    assert(grants.size === 1,
      s"${grants.size} of 16 racing acquirers were granted the lease")
    assert(LockBackend.readToken(fs, lock)
      === Some(grants.peek()), "lock does not bear the winner's token")
  }

  test(s"$name: acquire on a HELD lock returns None without " +
      "throwing; after a fenced release the lock is re-grantable") {
    val (fs, lock) = freshLock()
    val t1 = LockBackend.tryAcquire(fs, lock)
    assert(t1.nonEmpty, "acquire of an absent lock failed")
    assert(LockBackend.tryAcquire(fs, lock).isEmpty,
      "a second acquire was granted while the lease was held")
    LockBackend.release(fs, lock, t1.get)
    assert(LockBackend.readToken(fs, lock).isEmpty,
      "release of the holder's own token left the lock in place")
    assert(LockBackend.tryAcquire(fs, lock).nonEmpty,
      "released lock could not be re-acquired")
  }

  test(s"$name: release is token-fenced — a foreign token leaves the " +
      "lock AND its token intact; releasing an absent lock is a no-op") {
    val (fs, lock) = freshLock()
    val t1 = LockBackend.tryAcquire(fs, lock).get
    LockBackend.release(fs, lock, "not-the-holder-token")
    assert(LockBackend.readToken(fs, lock) === Some(t1),
      "a foreign-token release destroyed or altered the live lease")
    LockBackend.release(fs, lock, t1)
    // never-throws leg: the lock is gone; both calls must be no-ops
    LockBackend.release(fs, lock, t1)
    LockBackend.release(fs, lock, "anything")
    assert(LockBackend.readToken(fs, lock).isEmpty)
  }

  test(s"$name: heartbeat advances the liveness mtime and preserves " +
      "the token — and is token-fenced, so a ZOMBIE's beat cannot " +
      "freshen a re-granted lease") {
    val (fs, lock) = freshLock()
    val t1 = LockBackend.tryAcquire(fs, lock).get
    val m0 = LockBackend.mtime(fs, lock).get
    Thread.sleep(30)
    // a superseded holder's beat (foreign token) must be a no-op —
    // otherwise a zombie's daemon keeps a dead re-granted lease
    // reading live, wedging every waiter into the timeout
    LockBackend.heartbeat(fs, lock, "not-the-holder-token")
    assert(LockBackend.mtime(fs, lock).contains(m0),
      "a foreign-token heartbeat freshened the lease")
    LockBackend.heartbeat(fs, lock, t1)
    assert(LockBackend.mtime(fs, lock).exists(_ > m0),
      "heartbeat did not advance the lock's mtime")
    assert(LockBackend.readToken(fs, lock) === Some(t1),
      "heartbeat altered the lease token")
  }

  test(s"$name: breakStale removes the lock only while its mtime " +
      "still equals the observed-stale value — a refreshed (live) " +
      "lease survives the break attempt") {
    val (fs, lock) = freshLock()
    val t1 = LockBackend.tryAcquire(fs, lock).get
    val m0 = LockBackend.mtime(fs, lock).get
    // the holder is alive: its heartbeat moves the mtime between the
    // waiter's staleness observation and the break
    Thread.sleep(30)
    LockBackend.heartbeat(fs, lock, t1)
    LockBackend.breakStale(fs, lock, m0)
    assert(LockBackend.readToken(fs, lock) === Some(t1),
      "breakStale destroyed a lease whose mtime had moved (live holder)")
    // now genuinely stale: observed mtime is current — break succeeds
    val m1 = LockBackend.mtime(fs, lock).get
    LockBackend.breakStale(fs, lock, m1)
    assert(LockBackend.readToken(fs, lock).isEmpty,
      "breakStale left an observed-stale lock in place")
    assert(LockBackend.tryAcquire(fs, lock).nonEmpty,
      "lock not re-grantable after a break")
  }

  test(s"$name: the granted token names its holder — pid@host/uuid — " +
      "so a waiter's log line and `cat <lock>` identify a long hold " +
      "without fsck") {
    val (fs, lock) = freshLock()
    val t1 = LockBackend.tryAcquire(fs, lock).get
    assert(t1.matches("""\d+@[^/]+/[0-9a-f-]{36}"""),
      s"token '$t1' does not carry the pid@host/uuid telemetry shape")
    LockBackend.release(fs, lock, t1)
  }

  test(s"$name: mutual exclusion under churn — 8 threads looping " +
      "acquire→work→release admit exactly one holder at a time") {
    val (fs, lock) = freshLock()
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ths = (1 to 8).map { _ =>
      new Thread(() => {
        try (1 to 12).foreach { _ =>
          var tok: Option[String] = None
          val deadline = System.currentTimeMillis() + 30000L
          while (tok.isEmpty && System.currentTimeMillis() < deadline) {
            tok = LockBackend.tryAcquire(fs, lock)
            if (tok.isEmpty) Thread.sleep(1)
          }
          assert(tok.nonEmpty, "starved past the deadline")
          val n = inBody.incrementAndGet()
          maxSeen.getAndUpdate(m => math.max(m, n))
          inBody.decrementAndGet()
          LockBackend.release(fs, lock, tok.get)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ths.foreach(_.start()); ths.foreach(_.join(60000L))
    assert(errs.isEmpty, s"churn participant failed: ${errs.peek()}")
    assert(maxSeen.get() === 1,
      s"${maxSeen.get()} holders were inside the lease at once")
  }

  test("the lease heartbeat daemon survives a backend whose beat " +
      "throws a RuntimeException — a LIVE holder keeps beating and a " +
      "waiter never breaks it mid-body") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-flakybeat").toString
    val root = s"flakybeat://$tmp/store"
    val beats = new java.util.concurrent.atomic.AtomicInteger(0)
    // the FIRST beat throws a RuntimeException (the shape of a cloud
    // connector's transient error); later beats go through
    FaultyLocalFs.withScheme(conf, "flakybeat") {
      case ("setTimes", _) if beats.getAndIncrement() == 0 =>
        throw new RuntimeException("transient SDK error")
    } {
      val overlapped =
        new java.util.concurrent.atomic.AtomicBoolean(false)
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      // staleAfterMs = 200 → heartbeat every 50 ms; the FIRST beat
      // throws (pre-fix, that killed the daemon and the holder read
      // stale after 200 ms); the hold spans 5 windows
      val holder = new Thread(() => {
        try Streaming.withStoreLock(spark, Seq(root),
          timeoutMs = 10000L, staleAfterMs = 200L) {
          inside.incrementAndGet()
          Thread.sleep(1000)
          if (inside.decrementAndGet() != 0) overlapped.set(true)
          ()
        } catch { case t: Throwable => errs.add(t) }
      })
      holder.start()
      Thread.sleep(100) // let the holder acquire
      val waiter = new Thread(() => {
        try Streaming.withStoreLock(spark, Seq(root),
          timeoutMs = 10000L, staleAfterMs = 200L) {
          if (inside.get() != 0) overlapped.set(true)
          ()
        } catch { case t: Throwable => errs.add(t) }
      })
      waiter.start()
      holder.join(); waiter.join()
      assert(errs.isEmpty, s"lease participant failed: ${errs.peek()}")
      assert(beats.get() > 1,
        "daemon died after the throwing beat — the fix under test")
      assert(!overlapped.get(),
        "a throwing beat killed the daemon and a waiter broke the " +
          "LIVE holder's lease")
    }
  }

  /** The race a lease break can lose twice: a competing breaker
    * re-grants the lease between this break's staleness observation
    * and its claim rename, so the claim captures a FRESH lock and must
    * restore it; a newcomer then takes the vacated lock path before
    * the restore. The filesystem under test calls [[beforeClaim]] just
    * before the claim rename and [[afterClaim]] just after it. */
  private final class BreakRace(lock: HPath) {
    private val file = java.nio.file.Paths.get(lock.toUri.getPath)
    private var observed = 0L
    private var claimed, joined = false
    def beforeClaim(): Unit = if (!claimed) {
      claimed = true
      java.nio.file.Files.write(file, "fresh-token".getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(file,
        java.nio.file.attribute.FileTime.fromMillis(observed + 5000L))
    }
    def afterClaim(): Unit = if (claimed && !joined) {
      joined = true
      java.nio.file.Files.write(file, "newcomer-token".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    }

    /** Breaks the observed-stale lock through `fs`: the restore must
      * not replace the newcomer's lock, so it parks the claim and the
      * break fails loudly. */
    def run(fs: FileSystem): Unit = {
      java.nio.file.Files.createDirectories(file.getParent)
      java.nio.file.Files.write(file, "stale-token".getBytes("UTF-8"))
      observed = LockBackend.mtime(fs, lock).get
      val e = intercept[IllegalStateException] {
        LockBackend.breakStale(fs, lock, observed)
      }
      assert(joined, "the newcomer never took the vacated path")
      assert(e.getMessage.contains("parked"), e.getMessage)
      assert(LockBackend.readToken(fs, lock) === Some("newcomer-token"),
        "the restore replaced the newcomer's lock")
      val orphans = file.getParent.toFile.listFiles()
        .filter(_.getName.startsWith(".store.lock.orphan."))
      assert(orphans.length === 1, "the claimed live lock was not parked")
      assert(new String(java.nio.file.Files.readAllBytes(
        orphans.head.toPath), "UTF-8") === "fresh-token")
    }
  }

  private def isClaim(p: HPath): Boolean = p.getName.contains(".break.")

  test("a break that claims a live lock never restores it over a " +
      "newcomer's lock, on filesystems whose rename replaces the " +
      "destination") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-restore").toString
    // local disk, where the restore is a hard link
    val local = new BreakRace(new HPath(s"file://$tmp/local/.store.lock"))
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def rename(src: HPath, dst: HPath): Boolean = {
        if (isClaim(dst)) local.beforeClaim()
        val renamed = super.rename(src, dst)
        if (isClaim(dst)) local.afterClaim()
        renamed
      }
    }
    raw.initialize(java.net.URI.create("file:///"), conf)
    local.run(raw)
    // an unknown scheme, where the restore checks the path first
    val lock = new HPath(s"restore://$tmp/other/.store.lock")
    val other = new BreakRace(lock)
    FaultyLocalFs.withScheme(conf, "restore") {
      case ("rename", dst) if isClaim(dst) => other.beforeClaim()
      // breakStale's first call after the claim rename reads its mtime
      case ("getFileStatus", p) if isClaim(p) => other.afterClaim()
    } {
      other.run(lock.getFileSystem(conf))
    }
  }

  test("on a filesystem with no known atomic create, a grant needs " +
      "two spaced read-backs of the winner's token: a competing write " +
      "that lands during the settle is refused") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-settle").toString
    val opens = new java.util.concurrent.atomic.AtomicInteger(0)
    FaultyLocalFs.withScheme(conf, "settle") {
      // a racing creator's write lands just before the second
      // read-back of the lock under "raced/"
      case ("open", p) if p.getParent.getName == "raced" &&
          opens.incrementAndGet() == 2 =>
        java.nio.file.Files.write(java.nio.file.Paths.get(
          p.toUri.getPath), "racer-token".getBytes("UTF-8"))
    } {
      val free = new HPath(s"settle://$tmp/free/.store.lock")
      val fs = free.getFileSystem(conf)
      val t1 = LockBackend.tryAcquire(fs, free)
      assert(t1.nonEmpty && LockBackend.readToken(fs, free) === t1,
        "an uncontended settle-and-read-back acquire was refused")
      val raced = new HPath(s"settle://$tmp/raced/.store.lock")
      assert(LockBackend.tryAcquire(fs, raced).isEmpty,
        "granted although a competing write replaced the token " +
          "between the two read-backs")
      assert(opens.get() === 2, "the grant did not read back twice")
      assert(LockBackend.readToken(fs, raced) === Some("racer-token"))
    }
  }
}
