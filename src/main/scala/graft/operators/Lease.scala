package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** WRITER LEASE for the journey-owned state directories (growing
  * index tiers, accepted/, the mergeable states): turns the
  * "single-writer by convention" quiesce rule into an enforced
  * contract. Without it, two concurrent `RunIntake` steps against one
  * stateDir can interleave their probe-then-append windows and BOTH
  * admit the same duplicate, and a reader during `replaceTable`'s
  * two-rename swap can observe a missing table. With it, every
  * state-mutating journey brackets its run in
  * [[withLease]] — one writer at a time, crash-safe via TTL expiry.
  *
  * Mechanics (single small file, `<stateDir>/_lease`):
  *  - ACQUIRE = exclusive create-if-absent. On `file:` paths Hadoop's
  *    RawLocalFileSystem implements `create(overwrite=false)` as a
  *    non-atomic exists-check-then-create, so local acquires go
  *    through `java.nio.file.Files.createFile` (O_EXCL — atomic on
  *    POSIX). On HDFS the namenode makes `create(overwrite=false)`
  *    atomic; on an object store use the conditional-put equivalent.
  *    After ANY create the file is re-read and must still carry OUR
  *    token — belt-and-braces against create paths whose exclusivity
  *    is weaker than advertised. The file carries
  *    (owner, fencing token, expiry wall-clock ms).
  *  - A held, unexpired lease makes acquire throw [[LeaseHeld]] with
  *    the holder's identity — the caller's move is back-off/retry or
  *    fail the run, never proceed.
  *  - STEAL-AFTER-EXPIRY: an expired lease (crashed holder — the TTL
  *    is the crash detector) is first RENAMED to a unique tombstone —
  *    rename of one source path is atomic, so of N racing stealers
  *    exactly ONE owns the tombstone; the losers' renames fail and
  *    they throw [[LeaseHeld]]. Only the rename winner proceeds to
  *    the exclusive create. (Plain delete-then-create is NOT safe:
  *    stealer B's delete could remove the lease stealer A just
  *    created, and both would proceed — ADVICE r9.)
  *  - FENCING: [[renew]] and [[release]] verify the file still holds
  *    OUR token. A holder that overran its TTL and was stolen from
  *    gets [[LeaseLost]] — abort, don't trust the completed writes
  *    (the classic stale-leaseholder fence; losing the lease mid-run
  *    means another writer may already be mutating the state).
  *    `release` THROWS on a stolen lease rather than no-opping: a
  *    journey that ran past its TTL and overlapped a successor must
  *    fail loudly, not report success (ADVICE r9).
  *  - RENEWAL: [[withLease]] renews automatically from a daemon
  *    thread every ttl/3, so a journey longer than the TTL keeps its
  *    exclusion without per-journey plumbing; if a renewal ever finds
  *    the lease stolen (e.g. a machine-length GC pause outlasted the
  *    TTL), the journey fails with [[LeaseLost]] when it completes.
  *
  * What the lease does NOT do: it cannot fence a writer that ignores
  * it (plain parquet has no server to reject stale writers — that is
  * the transactional-format gap SCALE.md documents); every
  * state-mutating entry point in THIS engine takes it, which closes
  * the race between well-behaved writers. Readers stay lease-free:
  * probes are read-only, the `accepted/` sink is a [[TxLog]] table
  * whose readers always see one committed version, and the swap
  * windows they could observe on the side-states are repaired by
  * [[Compaction.recoverTable]].
  */
object Lease {

  /** Another live writer holds the lease — back off or fail the run. */
  final class LeaseHeld(val dir: String, val holder: String,
      val expiresMs: Long)
    extends RuntimeException(
      s"state dir $dir is lease-held by $holder until epoch-ms " +
        s"$expiresMs — concurrent state mutation is a double-admit " +
        s"race; retry after it releases or expires")

  /** Our lease vanished or was stolen (we overran the TTL and a new
    * writer fenced us out) — the state may already be mutating under
    * someone else: abort without writing. */
  final class LeaseLost(val dir: String, val detail: String)
    extends RuntimeException(
      s"lease on $dir lost: $detail — aborting (another writer may " +
        s"own the state now)")

  /** A held lease. `token` is the fencing identity; all mutation of
    * the lease file verifies it. */
  final case class Handle(dir: String, owner: String, token: String,
      ttlMs: Long, conf: SerializableConf) {
    def renew(): Unit = Lease.renew(this)
    def release(): Unit = Lease.release(this)
  }

  /** Hadoop Configuration is not serializable/case-class friendly —
    * tiny wrapper so Handle stays a plain value. */
  final class SerializableConf(@transient val conf: Configuration)

  private def leasePath(dir: String) = new Path(dir, "_lease")

  private def fsOf(dir: String, conf: Configuration): FileSystem =
    new Path(dir).getFileSystem(conf)

  /** Local-FS critical section around the whole read-check-steal-
    * create sequence: a persistent sidecar `_lease.lock` held under an
    * OS advisory lock (flock) serializes every lease mutation across
    * processes ON ONE HOST, and a JVM-global monitor serializes
    * threads within one JVM (FileLock is process-scoped). This is
    * what makes the local steal race-free — rename/create on
    * RawLocalFileSystem alone cannot be, because a stealer's rename
    * can grab a FRESH lease installed between its staleness check and
    * its rename. On HDFS this wraps nothing (flock doesn't exist
    * there); the namenode-atomic create + post-rename verify carry
    * the protocol instead. */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withLocalMutex[T](fs: FileSystem, dir: String)(op: => T): T =
    if (!isLocal(fs)) op
    else {
      val key = new Path(dir).toUri.getPath
      val mon = jvmLocks.computeIfAbsent(key, _ => new Object)
      mon.synchronized {
        val lockFile = java.nio.file.Paths.get(key, "_lease.lock")
        val ch = java.nio.channels.FileChannel.open(lockFile,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val l = ch.lock() // blocks on a concurrent PROCESS's holder
          try op finally l.release()
        } finally ch.close()
      }
    }

  private def body(h: Handle, expiresMs: Long): Array[Byte] =
    s"""{"owner":"${h.owner}","token":"${h.token}","expires_ms":$expiresMs}"""
      .getBytes("UTF-8")

  private def isLocal(fs: FileSystem): Boolean = {
    val s = fs.getUri.getScheme
    s == null || s == "file"
  }

  /** Create `p` exclusively with `bytes`. Returns false if it already
    * exists (lost the race). Local paths use nio O_EXCL because
    * RawLocalFileSystem's create(overwrite=false) is exists-then-
    * create, not atomic (ADVICE r9); a concurrent reader can observe
    * the file between create and write — it reads as token-less,
    * which every caller treats as "someone else holds it" (safe). */
  private def createExclusive(fs: FileSystem, p: Path,
      bytes: Array[Byte]): Boolean =
    if (isLocal(fs)) {
      try {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createFile(local) // atomic O_EXCL
        java.nio.file.Files.write(local, bytes)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try {
        val out = fs.create(p, false) // atomic on HDFS (namenode)
        try out.write(bytes) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }

  private def readBody(fs: FileSystem, p: Path): Option[(String, String, Long)] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      def field(k: String): Option[String] = {
        val m = ("\"" + k + "\":\"?([^\",}]*)\"?").r
          .findFirstMatchIn(text)
        m.map(_.group(1))
      }
      for {
        o <- field("owner"); t <- field("token"); e <- field("expires_ms")
      } yield (o, t, e.toLong)
    }

  private def heldBy(fs: FileSystem, p: Path, dir: String): Nothing = {
    val w = readBody(fs, p)
    throw new LeaseHeld(dir, w.map(_._1).getOrElse("?"),
      w.map(_._3).getOrElse(0L))
  }

  /** Exclusive create + post-create token verification. */
  private def createAndVerify(fs: FileSystem, p: Path, h: Handle,
      expiresMs: Long): Handle = {
    if (!createExclusive(fs, p, body(h, expiresMs))) heldBy(fs, p, h.dir)
    readBody(fs, p) match {
      case Some((_, tok, _)) if tok == h.token => h
      case _ => heldBy(fs, p, h.dir) // weaker-than-advertised create
    }
  }

  /** Acquire the writer lease on `dir`, stealing an EXPIRED one.
    * Throws [[LeaseHeld]] if a live writer owns it. `owner` is
    * diagnostic (shown to the loser); the `token` uuid is the fence. */
  def acquire(conf: Configuration, dir: String, owner: String,
      ttlMs: Long = 30 * 60 * 1000L): Handle = {
    val fs = fsOf(dir, conf)
    fs.mkdirs(new Path(dir))
    val p = leasePath(dir)
    val h = Handle(dir, owner, java.util.UUID.randomUUID().toString,
      ttlMs, new SerializableConf(conf))
    withLocalMutex(fs, dir) {
      val now = System.currentTimeMillis()
      readBody(fs, p) match {
        case Some((holder, _, exp)) if exp > now =>
          throw new LeaseHeld(dir, holder, exp)
        case Some((_, corpseTok, _)) =>
          // expired: steal. Atomically rename the corpse to a unique
          // tombstone — exactly one of N racing stealers wins the
          // rename (single source path); the losers see the rename
          // fail and back off. Then VERIFY the tombstone still holds
          // the corpse we checked: between our staleness read and our
          // rename another stealer may have completed the whole cycle
          // and installed a FRESH lease — renaming that would steal
          // from a live writer. (On local FS the flock mutex already
          // excludes this; on HDFS the verify closes it.)
          val tomb = new Path(dir, s"_lease.stolen.${h.token}")
          if (!fs.rename(p, tomb)) heldBy(fs, p, dir)
          readBody(fs, tomb) match {
            case Some((_, tok, _)) if tok == corpseTok =>
              fs.delete(tomb, false) // confirmed corpse; bury it
              createAndVerify(fs, p, h, now + ttlMs)
            case other =>
              // we grabbed a live successor's lease — put it back
              // and defer to its holder
              fs.rename(tomb, p)
              throw new LeaseHeld(dir,
                other.map(_._1).getOrElse("?"),
                other.map(_._3).getOrElse(0L))
          }
        case None =>
          createAndVerify(fs, p, h, now + ttlMs)
      }
    }
  }

  /** Extend our lease by its TTL. [[LeaseLost]] if the file no longer
    * carries our token (stolen after expiry) or vanished. */
  def renew(h: Handle): Unit = {
    val fs = fsOf(h.dir, h.conf.conf)
    val p = leasePath(h.dir)
    withLocalMutex(fs, h.dir) {
      readBody(fs, p) match {
        case Some((_, tok, _)) if tok == h.token =>
          val bytes = body(h, System.currentTimeMillis() + h.ttlMs)
          if (isLocal(fs))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(p.toUri.getPath), bytes)
          else {
            val out = fs.create(p, true)
            try out.write(bytes) finally out.close()
          }
        case Some((holder, _, _)) =>
          throw new LeaseLost(h.dir, s"now held by $holder")
        case None => throw new LeaseLost(h.dir, "lease file vanished")
      }
    }
  }

  /** Release our lease. THROWS [[LeaseLost]] if the file no longer
    * carries our token — a run that was stolen from mid-flight must
    * surface the overlap, not report success (ADVICE r9): the
    * successor may have been mutating the state concurrently with our
    * final writes. */
  def release(h: Handle): Unit = {
    val fs = fsOf(h.dir, h.conf.conf)
    val p = leasePath(h.dir)
    withLocalMutex(fs, h.dir) {
      readBody(fs, p) match {
        case Some((_, tok, _)) if tok == h.token => fs.delete(p, false)
        case Some((holder, _, _)) =>
          throw new LeaseLost(h.dir, s"stolen mid-run; now held by $holder")
        case None => throw new LeaseLost(h.dir, "lease file vanished mid-run")
      }
    }
  }

  /** Bracket a state-mutating block in acquire/release — the form
    * every journey uses. A daemon thread renews the lease every ttl/3
    * while `f` runs, so journeys longer than the TTL keep their
    * exclusion. On the success path a stolen lease surfaces as
    * [[LeaseLost]] (the journey must NOT report success); on the
    * failure path the loss is attached as a suppressed exception so
    * the original error stays primary. (A crashed JVM can't release —
    * that is what the TTL is for.) */
  def withLease[T](conf: Configuration, dir: String, owner: String,
      ttlMs: Long = 30 * 60 * 1000L)(f: Handle => T): T = {
    val h = acquire(conf, dir, owner, ttlMs)
    @volatile var lost: Option[LeaseLost] = None
    @volatile var stop = false
    val interval = math.max(1000L, ttlMs / 3)
    val renewer = new Thread(() => {
      while (!stop && lost.isEmpty) {
        try Thread.sleep(interval)
        catch { case _: InterruptedException => () }
        if (!stop && lost.isEmpty)
          try renew(h)
          catch {
            case e: LeaseLost => lost = Some(e)
            case _: Exception => () // transient fs hiccup; retry next tick
          }
      }
    }, s"lease-renew:$dir")
    renewer.setDaemon(true)
    renewer.start()
    def stopRenewer(): Unit = {
      stop = true; renewer.interrupt()
      renewer.join(5000)
    }
    val result =
      try f(h)
      catch {
        case e: Throwable =>
          stopRenewer()
          lost match {
            case Some(l) => e.addSuppressed(l)
            case None =>
              try release(h)
              catch { case l: LeaseLost => e.addSuppressed(l) }
          }
          throw e
      }
    stopRenewer()
    lost.foreach(throw _) // stolen mid-run: do not report success
    release(h)            // token mismatch here throws LeaseLost too
    result
  }

  /** Default diagnostic owner string: pid@host. */
  def defaultOwner(): String = {
    val pid = ProcessHandle.current().pid()
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "localhost" }
    s"$pid@$host"
  }
}
