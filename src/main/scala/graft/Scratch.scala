package graft

import java.nio.file.{Files, Path, Paths}

/** Run-scratch placement (r13 opt round, guide §5/§6): the streaming
  * replays (q36/q79/q92/q94/q97/q101) pay one offset-log + commit-log +
  * per-state-partition delta-file fsync chain PER MICRO-BATCH, and the
  * report/roundtrip queries (q80/q81/q82/q89/q90) stage their artifacts
  * through temp dirs — all of it single-run scratch that `java.io.tmpdir`
  * puts on the root disk. Placing it on tmpfs removes the disk round
  * trips from a constant that is pure per-batch overhead, independent of
  * data volume.
  *
  * Resolution order: `SPARK_GRAFT_SCRATCH` (deploys point this at the
  * fast local volume of their choice — or at durable storage for
  * checkpoints that must survive the host) > `/dev/shm` when present and
  * writable (Linux tmpfs) > `java.io.tmpdir`. NOT result caching: every
  * path below is created fresh per run and holds only intra-run state;
  * nothing written here survives into, or seeds, a later invocation.
  *
  * Production note (100 TB stance): a real streaming deploy sets a
  * durable `checkpointLocation` through its own config — these replays
  * are batch-parity harnesses whose checkpoints are scratch BY CONTRACT
  * (created fresh, deleted on exit). The tmpfs default only moves that
  * scratch; it does not change what a production checkpoint would be. */
object Scratch {
  lazy val root: Path = {
    val fromEnv = sys.env.get("SPARK_GRAFT_SCRATCH").map(Paths.get(_))
    val shm = Paths.get("/dev/shm")
    val base = fromEnv.orElse {
      if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm) else None
    }.getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))
    Files.createDirectories(base)
    base
  }

  /** All temp dirs handed out by [[tempDir]]; drained by ONE shutdown
    * hook (r14: a per-call `addShutdownHook` accumulated an unbounded
    * Thread per dir across a long driver session — ADVICE r13 — and two
    * hooks deleting overlapping trees raced at JVM exit, spraying a
    * NoSuchFileException trace on stderr after the bench's JSON line). */
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val hookInstalled: Unit = {
    sys.addShutdownHook(registered.forEach(p => delete(p)))
    ()
  }

  /** `Files.createTempDirectory` rooted at [[root]], deleted at JVM
    * exit (tmpfs scratch is RAM — a long driver session creating many
    * report dirs must not accumulate them; pre-r13-opt these leaked
    * onto /tmp and merely wasted disk). */
  def tempDir(prefix: String): Path = {
    hookInstalled
    val p = Files.createTempDirectory(root, prefix)
    registered.add(p)
    p
  }

  /** Best-effort recursive delete that tolerates entries vanishing
    * underneath it (another cleanup path may own part of the tree). */
  private[graft] def delete(p: Path): Unit = {
    try {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.forEach(c => delete(c)) finally s.close()
      }
      Files.deleteIfExists(p)
    } catch {
      case _: java.nio.file.NoSuchFileException => // concurrently removed
      case _: java.io.UncheckedIOException      => // Files.list on vanished dir
    }
  }
}
