package graft.operators

import java.nio.file.{Files, Path, StandardCopyOption}

/** Stage-once directory protocol shared by the bench/demo entries that
  * materialize a reusable on-disk corpus or index under /tmp (the ODIM
  * ingest corpus, the incremental-dedup band index).
  *
  * The builder populates a FRESH temp sibling which is atomically renamed
  * into place once complete, so a half-staged directory is never observable
  * and concurrent first runs are safe: every contender builds its own temp
  * dir, exactly one rename wins, losers delete their copy and read the
  * winner's. The `_STAGED` marker gates reuse across processes; a marker-less
  * root (a remnant of a crashed pre-protocol run) is discarded and rebuilt.
  */
object Staging {

  def stagedDir(root: Path)(build: Path => Unit): String = {
    val done = root.resolve("_STAGED")
    if (!Files.exists(done)) {
      if (Files.exists(root)) deleteRecursively(root) // stale partial remnant
      Files.createDirectories(root.getParent)
      val tmp = Files.createTempDirectory(root.getParent, root.getFileName.toString + ".build")
      build(tmp)
      Files.createFile(tmp.resolve("_STAGED"))
      try Files.move(tmp, root, StandardCopyOption.ATOMIC_MOVE): Unit
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException |
            _: java.nio.file.AccessDeniedException =>
          deleteRecursively(tmp) // lost the race; the winner's dir is complete
      }
    }
    root.toString
  }

  /** [[stagedDir]] for an artifact built from the input `dir/file`: the
    * root `/tmp/graft_<name>_<dir>_<size>_<mtime>` names the input's
    * directory, byte size and modification time, so rewriting the input
    * at the same path stages a fresh artifact instead of reusing the one
    * built from the old bytes.
    */
  def stagedFor(name: String, dir: String, file: String)(build: Path => Unit): String = {
    val in = Path.of(dir, file)
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tag = s"${Files.size(in)}_${Files.getLastModifiedTime(in).toMillis}"
    stagedDir(Path.of(s"/tmp/graft_${name}_${slug}_$tag"))(build)
  }

  /** Pid-keyed scratch dir under /tmp, sweeping siblings left by DEAD
    * pids as a side effect. The per-process self-check staging dirs (BPE
    * merges/encode, ODIM ingest) are fresh-per-pid by design and must
    * OUTLIVE their JVM — the driver's DuckDB compare runs in a separate
    * process after the Spark JVM exits, so a delete-on-exit hook would
    * race the oracle read. Instead each new JVM garbage-collects the
    * accumulated dirs of processes that no longer exist, bounding /tmp
    * growth to one generation per live pid.
    *
    * Sweep eligibility requires BOTH a dead pid AND an mtime older than
    * [[SweepGraceMillis]]: a dead pid alone is not enough precisely
    * because these dirs must outlive their JVM — a JVM launched between
    * Verify's exit and the driver's DuckDB compare would otherwise see
    * the just-exited pid as dead and clobber parquet mid-compare. One
    * hour is far beyond any compare window while still bounding /tmp.
    */
  private[graft] val SweepGraceMillis: Long = 60L * 60 * 1000

  def pidScratchDir(prefix: String): String = {
    val self = ProcessHandle.current().pid()
    try {
      val s = Files.list(Path.of("/tmp"))
      try s.forEach { p =>
        try {
          val n = p.getFileName.toString
          if (n.startsWith(prefix + "_p") && n != s"${prefix}_p$self") {
            val pid = n.stripPrefix(prefix + "_p")
            val dead = pid.nonEmpty && pid.length <= 18 && pid.forall(_.isDigit) && {
              val h = ProcessHandle.of(pid.toLong)
              !(h.isPresent && h.get().isAlive)
            }
            val aged = dead && {
              val age = System.currentTimeMillis() - Files.getLastModifiedTime(p).toMillis
              age > SweepGraceMillis
            }
            if (aged) {
              try deleteRecursively(p)
              catch { case _: java.io.IOException => } // best effort
            }
          }
        } catch { case scala.util.control.NonFatal(_) => } // never fail class init over a weird /tmp entry
      } finally s.close()
    } catch { case scala.util.control.NonFatal(_) => }
    s"/tmp/${prefix}_p$self"
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively(_))
      finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }
}
