package graft.tools

/** Machine-wide exclusivity for measurement harnesses.
  *
  * Three rounds in a row, a "regression" in a sweep traced to a CONCURRENT
  * run on the same box (r4: four per-query deltas, all recovered; r5: one
  * reconciliation sweep provably contaminated by an overlapping ImportBench
  * — q81 read 10.7 s vs its 3.6 s clean median; r6: the driver's own
  * validation pass overlapped its bench sweep — 8 queries elevated, each
  * self-flagging with IQR ≈ median). Any two timing jobs sharing the 32
  * cores corrupt each other's numbers without failing, which is worse than
  * failing.
  *
  * Two acquisition modes:
  *   - [[exclusive]] (REFUSE): Profile, a terminal A/B harness — an
  *     operator at a terminal should go look at what's running, not queue
  *     blind behind it;
  *   - [[exclusiveWait]] (BLOCK): the driver-invoked entry points (Bench,
  *     Verify's correctness sweep, ImportBench) — an unattended pipeline
  *     that overlapped two phases must SERIALIZE them, not fail the round.
  *     Waiting turns the r6 contamination mode (bench vs validation sweep)
  *     into a clean back-to-back run.
  *
  * Mechanism: an OS-level advisory lock (`FileChannel.tryLock`/`lock`) on
  * `/tmp/graft-bench.lock`. The kernel releases it when the holding process
  * exits — crashed runs cannot leave a stale lock, unlike existence-check
  * lockfiles. The file body carries the holder's harness name, pid and
  * start time so a refusal/wait message says WHO is running. ONE static
  * process-wide FileChannel serves every acquire and holder-info read: the
  * FileLock javadoc warns that closing ANY channel to a file may (on some
  * platforms) release all of the JVM's locks on it, so the channel is
  * opened once and never closed — the old open-read-close refusal path
  * could silently drop a held lock. Same-JVM overlap is serialized by a
  * ReentrantLock in front of the OS lock (file locks are held per-process,
  * not per-thread).
  */
object BenchLock {

  val LockPath = "/tmp/graft-bench.lock"

  // one channel for the life of the process — see the scaladoc warning
  private lazy val channel: java.nio.channels.FileChannel =
    java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(LockPath),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.READ)

  // same-JVM serialization: FileLock is process-scoped, so two threads in
  // one JVM need a JVM-level lock in front of the OS one
  private val jvmLock = new java.util.concurrent.locks.ReentrantLock()

  private def readHolder(): String =
    try {
      val buf = java.nio.ByteBuffer.allocate(512)
      val n = channel.read(buf, 0L)
      if (n > 0) new String(buf.array(), 0, n, "UTF-8").trim else "unknown"
    } catch { case _: Throwable => "unknown" }

  private def writeHolder(harness: String): Unit = {
    val info = s"$harness pid=${ProcessHandle.current().pid()} " +
      s"since ${java.time.Instant.now()}\n"
    channel.truncate(0)
    channel.write(java.nio.ByteBuffer.wrap(info.getBytes("UTF-8")), 0L)
    channel.force(true)
  }

  /** Try to take the lock. Right(release) on success — the file body now
    * names this holder; Left(holderInfo) when another harness (any process,
    * or an overlapping attempt in this JVM) already holds it.
    */
  private[graft] def acquire(harness: String): Either[String, () => Unit] = {
    if (!jvmLock.tryLock()) Left(s"another harness thread in this JVM (pid ${ProcessHandle.current().pid()})")
    else {
      val lock =
        try channel.tryLock()
        catch { case _: Throwable => null }
      if (lock == null) {
        val holder = readHolder()
        jvmLock.unlock()
        Left(holder)
      } else {
        writeHolder(harness)
        Right(() => { lock.release(); jvmLock.unlock() })
      }
    }
  }

  /** Blocking acquire: waits (forever, by design — the driver's phases are
    * finite) for both the JVM-level and OS-level locks, printing who is
    * being waited on.
    */
  private[graft] def acquireWait(harness: String): () => Unit = {
    if (!jvmLock.tryLock()) {
      System.err.println(s"[bench-lock] waiting for another thread in this JVM…")
      jvmLock.lock()
    }
    var lock = channel.tryLock()
    if (lock == null) {
      System.err.println(s"[bench-lock] $LockPath held by: ${readHolder()} — " +
        s"'$harness' waiting (overlapping measurement jobs fake per-query " +
        "regressions; serializing instead)")
      lock = channel.lock() // blocks until the holder's process releases
    }
    writeHolder(harness)
    val l = lock
    () => { l.release(); jvmLock.unlock() }
  }

  /** Run `body` holding the machine-wide bench lock; exit(2) with a clear
    * message naming the current holder if another harness already holds it.
    */
  def exclusive[T](harness: String)(body: => T): T = acquire(harness) match {
    case Left(holder) =>
      System.err.println(
        s"[bench-lock] $LockPath is held by: $holder\n" +
        s"[bench-lock] refusing to run '$harness' concurrently — overlapping " +
        "measurement jobs share the cores and fake per-query regressions " +
        "(see BENCH.md noise-floor analysis). Wait for the holder to finish, " +
        "then re-run.")
      sys.exit(2)
    case Right(release) =>
      try body finally release()
  }

  /** Run `body` holding the lock, WAITING for any current holder first —
    * the unattended-pipeline mode (Bench, Verify, ImportBench): overlap
    * becomes serialization, and the round's artifacts still get written.
    */
  def exclusiveWait[T](harness: String)(body: => T): T = {
    val release = acquireWait(harness)
    try body finally release()
  }
}
