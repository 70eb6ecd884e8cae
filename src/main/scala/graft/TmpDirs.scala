package graft

/** Tracked temp directories for the demo/bench query surface: every
  * query that stages data on local disk (parquet sinks, COG scratch,
  * streaming checkpoints, bucketed warehouses) allocates through
  * [[create]], and ONE JVM-exit hook sweeps them all. Before this,
  * each call site either leaked its directory outright or registered
  * its own hook per call — both unbounded in a long-lived session.
  * Deletion is best-effort (exit-time races with Spark's own shutdown
  * are swallowed); nothing here is correctness-bearing. */
object TmpDirs {
  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d =>
        try {
          java.nio.file.Files.walk(d)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Exception => () })))

  /** A fresh temp directory swept at JVM exit; returns its path. */
  def create(prefix: String): String = {
    hook
    val d = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(d)
    d.toString
  }

  /** Track an externally-created directory for the same exit sweep. */
  def track(dir: java.io.File): java.io.File = {
    hook
    dirs.add(dir.toPath)
    dir
  }

  /** Per-user, per-process root for [[fixed]] staging. NOT the shared
    * `/tmp/graft_stage` of earlier rounds: a world-shared fixed path
    * let two concurrent JVMs overwrite each other's staged evidence
    * mid-compare, and on a multi-user host a pre-planted symlink at
    * the predictable path could redirect Spark's overwrite-mode
    * delete+write (classic predictable-tmp hazard). The root is
    * `/tmp/graft_stage-<user>/<pid>`:
    *
    *  - the user level is verified to be a REAL directory owned by
    *    this user (a foreign or symlinked entry at the predictable
    *    name fails loudly rather than being adopted);
    *  - the pid level is created fresh by THIS process — a leftover
    *    entry at our pid (recycled pid, planted symlink) is deleted
    *    NOFOLLOW and never reused;
    *  - stale sibling roots (dead pid AND mtime > 1 h) are reaped
    *    best-effort at init, bounding growth while never racing the
    *    minutes-scale dump→compare window of a just-exited Verify.
    *
    * Oracle SQL must NOT hardcode the path: query authors interpolate
    * `TmpDirs.fixed(name)` into the SQL text at runtime, and Verify
    * dumps that text — writer and oracle read the same string by
    * construction. */
  lazy val stageRoot: String = {
    val user = sys.props.getOrElse("user.name", "anon")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    initStageRoot(java.nio.file.Paths.get(s"/tmp/graft_stage-$user"),
      ProcessHandle.current().pid()).toString
  }

  /** [[stageRoot]]'s logic with the user root and pid injected — split
    * out so the spec can exercise the refusal/reap/recycle branches
    * against a scratch base without touching the real root. */
  private[graft] def initStageRoot(userRoot: java.nio.file.Path,
      pid: Long): java.nio.file.Path = {
    import java.nio.file.{Files, FileAlreadyExistsException, LinkOption}
    // create-then-verify, never verify-then-create: an exists() probe
    // followed by createDirectories() leaves a race window where a
    // symlink planted between the two is silently followed (and
    // createDirectories resolves links). createDirectory is atomic —
    // either WE made a real directory, or something already holds the
    // name and the NOFOLLOW + ownership checks below run against it
    // unconditionally.
    try { Files.createDirectory(userRoot); () }
    catch { case _: FileAlreadyExistsException => () }
    require(Files.isDirectory(userRoot, LinkOption.NOFOLLOW_LINKS),
      s"staging root $userRoot exists but is not a plain directory " +
        "(symlink/file planted at the predictable path?) — refusing")
    require(Files.getOwner(userRoot).getName ==
        sys.props.getOrElse("user.name", "anon"),
      s"staging root $userRoot is owned by a different user — refusing")
    // streams from Files.list/walk hold directory fds until closed —
    // leak-free even when the spec calls this repeatedly
    def usingStream[T](s: java.util.stream.Stream[T])(f: java.util.stream.Stream[T] => Unit): Unit =
      try f(s) finally s.close()
    def deleteTree(p: java.nio.file.Path): Unit =
      usingStream(Files.walk(p))(_.sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => { Files.deleteIfExists(q); () }))
    // reap sibling roots whose creating process is gone AND whose
    // NEWEST entry is stale (>1 h). Staleness from the deepest mtime,
    // not the root's: fixed() creates each <name> dir at run START, so
    // a >1 h Verify run would look "stale" by root mtime the moment
    // its JVM exits — exactly during the dump→compare window the
    // contract promises never to race. The newest file in the tree
    // moves with the LAST write, so a just-finished run is never
    // reap-eligible for an hour after its final stage.
    try {
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      usingStream(Files.list(userRoot))(_.forEach { p =>
        val owner = scala.util.Try(p.getFileName.toString.toLong).toOption
        val dead = owner.exists(id => !ProcessHandle.of(id).isPresent)
        if (dead) {
          var newest = 0L
          try usingStream(Files.walk(p))(_.forEach { q =>
            val t = Files.getLastModifiedTime(q, LinkOption.NOFOLLOW_LINKS)
              .toMillis
            if (t > newest) newest = t
          }) catch { case _: Exception => newest = Long.MaxValue }
          if (newest < cutoff)
            try deleteTree(p) catch { case _: Exception => () }
        }
      })
    } catch { case _: Exception => () }
    val mine = userRoot.resolve(pid.toString)
    if (Files.exists(mine, LinkOption.NOFOLLOW_LINKS)) {
      // recycled pid or planted entry — remove it NOFOLLOW, never adopt
      if (Files.isDirectory(mine, LinkOption.NOFOLLOW_LINKS))
        deleteTree(mine)
      else Files.delete(mine)
    }
    Files.createDirectory(mine)
    mine
  }

  /** A DETERMINISTIC staging directory (`<stageRoot>/<name>`) that
    * deliberately SURVIVES JVM exit. For queries whose DuckDB oracle
    * must re-read the exact files the Spark side wrote: the
    * differential check runs in a SEPARATE process after this JVM has
    * exited (so the exit sweep must not reap it), and the oracle SQL
    * interpolates THIS path at construction time so both engines
    * address the same bytes. Bounded: each name is one fixed dir per
    * process, overwritten per run; stale process roots are reaped by
    * [[stageRoot]].
    *
    * ORDERING CONTRACT (because the path is keyed by name only, NOT
    * by scale dir): the staged files reflect the LAST invocation —
    * run the DuckDB compare immediately after the Verify dump of the
    * SAME sfDir, with no other Verify/Bench/test sweep in between.
    * The driver does exactly this; interleaving a different sfDir
    * makes the compare fail LOUDLY against the wrong corpus (a false
    * mismatch, never a false pass). */
  def fixed(name: String): String = {
    val d = java.nio.file.Paths.get(stageRoot, name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }
}
