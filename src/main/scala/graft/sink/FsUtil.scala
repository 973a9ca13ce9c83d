package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Shared filesystem helpers for the sink commit protocols and the
  * staged input caches.
  */
object FsUtil {
  /** The entries directly in `dir`, with the listing stream closed. */
  def list(dir: Path): Seq[Path] = {
    val stream = Files.list(dir)
    try stream.iterator.asScala.toVector finally stream.close()
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) list(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Atomically renames `staged` to `target`, replacing a stale one. */
  def publish(staged: Path, target: Path): Unit = {
    deleteRecursively(target)
    Files.createDirectories(target.getParent)
    Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Writes `path` through a tmp file and a rename: never torn. */
  def replace(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    Files.createDirectories(path.getParent)
    Files.write(tmp, bytes)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-SF sink WORK dir for a query family, scoped to THIS process:
    * `<tmp>/<family>/<sf>-pid<pid>`. A fixed shared dir wiped at query
    * start leaks nothing but races concurrent JVMs (one Verify wipes
    * the other's live `_checkpoint` mid-query — no lock can fix that,
    * the wipe itself is the conflict); a fresh temp dir per invocation
    * is concurrency-safe but leaks one sink copy per pass. The
    * process-scoped dir is both: the caller's own dir is wiped on
    * every invocation (one process runs its queries sequentially), and
    * sibling dirs whose owning pid is DEAD are reaped here, so disk
    * holds at most one copy per LIVE process.
    */
  def processScopedWorkDir(family: String, sfDir: String): String = {
    val sfName = Paths.get(sfDir).getFileName.toString
    val parent = Paths.get(sys.props("java.io.tmpdir"), family)
    val pid = ProcessHandle.current().pid()
    val mine = parent.resolve(s"$sfName-pid$pid")
    Files.createDirectories(parent)
    // reap siblings owned by dead processes (any SF — the pid suffix
    // is authoritative); never touch a live process's dir
    // Each reap is best-effort: two live JVMs may race to reap the same
    // dead sibling, and the loser's Files.list/delete hits paths the
    // winner already removed (NoSuchFileException). An all-digit pid
    // suffix beyond Long range would also throw in toLong. Neither
    // failure is ours to surface — the dir is either gone or someone
    // else's problem next pass.
    list(parent).foreach { p =>
      try {
        val name = p.getFileName.toString
        val idx = name.lastIndexOf("-pid")
        if (idx >= 0) {
          val owner = name.substring(idx + 4)
          val alive = owner.forall(_.isDigit) && owner.nonEmpty &&
            ProcessHandle.of(owner.toLong).map[java.lang.Boolean](h => h.isAlive)
              .orElse(java.lang.Boolean.FALSE)
          if (!alive) FsUtil.deleteRecursively(p)
        }
      } catch {
        case _: java.nio.file.NoSuchFileException | _: NumberFormatException
            | _: java.io.UncheckedIOException => ()
      }
    }
    FsUtil.deleteRecursively(mine) // own previous pass (same pid, sequential)
    mine.toString
  }

  /** `path|size|mtime` fingerprint of a file or directory (sizes
    * summed, newest mtime): a staged copy derived from `p` must
    * re-stage when `p` is regenerated, never silently serve old rows.
    */
  def sourceFingerprint(p: Path): String = {
    val (sz, mt) =
      if (Files.isDirectory(p)) {
        val parts = list(p)
        (parts.map(Files.size).sum,
          parts.map(x => Files.getLastModifiedTime(x).toMillis).foldLeft(0L)(math.max))
      } else (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    s"${p.toAbsolutePath}|$sz|$mt"
  }

  /** The one staged-copy protocol behind every shared staging cache
    * under `java.io.tmpdir` (streamable table copies, batch splits, the
    * clip table, the binary-file fixtures, the scaling bench's events
    * layout). Under the cross-process lock `<dir>.lock` it returns at
    * once when the marker `<dir>.ok` holds `fingerprint`; otherwise it
    * deletes the marker, wipes and recreates `dir`, runs `build`, and
    * writes the marker last — so a `build` that throws, or a crash
    * mid-build, leaves no marker and the next call rebuilds.
    */
  def staged(dir: Path, fingerprint: String)(build: => Unit): Unit = {
    val marker = Paths.get(dir.toString + ".ok")
    withStagingLock(Paths.get(dir.toString + ".lock")) {
      val fresh = Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8") == fingerprint
      if (!fresh) {
        Files.deleteIfExists(marker)
        deleteRecursively(dir)
        Files.createDirectories(dir)
        build
        Files.write(marker, fingerprint.getBytes("UTF-8"))
      }
    }
  }

  /** Cross-PROCESS exclusive section for [[staged]]: two JVMs staging
    * the same SF concurrently — e.g. Verify and Bench — could otherwise
    * interleave the wipe/write cycle and one would read a partially
    * staged dir. The stale check runs INSIDE the lock (the winner may
    * have staged while we waited). A JVM-wide monitor per lock path
    * wraps the OS FileLock because a second lock attempt on the same
    * file from the SAME JVM throws OverlappingFileLockException rather
    * than blocking.
    */
  private def withStagingLock[T](lockFile: Path)(f: => T): T = {
    val mon = jvmLocks.computeIfAbsent(lockFile.toString, _ => new Object)
    mon.synchronized {
      if (lockFile.getParent != null) Files.createDirectories(lockFile.getParent)
      val ch = java.nio.channels.FileChannel.open(lockFile,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try f finally l.release()
      } finally ch.close()
    }
  }
}
