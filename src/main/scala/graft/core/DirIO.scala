package graft.core

import java.nio.file.{Files, Path}
import java.util.stream.{Stream => JStream}

/** Closing wrappers for `Files.walk`/`Files.list` (ADVICE r12 #3):
  * java.nio directory streams hold an open file descriptor until
  * `close()` — relying on GC leaks fds under repeated bench/gate runs.
  * Every directory-stream consumer in the engine goes through these so
  * the close is structural, not a per-site convention.
  */
object DirIO {

  /** `Files.walk(p)` scoped to `f`, closed on exit. */
  def walk[T](p: Path)(f: JStream[Path] => T): T = {
    val s = Files.walk(p)
    try f(s) finally s.close()
  }

  /** `Files.list(p)` scoped to `f`, closed on exit. */
  def list[T](p: Path)(f: JStream[Path] => T): T = {
    val s = Files.list(p)
    try f(s) finally s.close()
  }

  /** Recursive delete (children before parents) — the repo's recurring
    * `Files.walk(...).sorted(reverseOrder)` cleanup idiom, fd-safe. */
  def deleteRecursively(p: Path): Unit = walk(p) { s =>
    s.sorted(java.util.Comparator.reverseOrder())
      .forEach(q => Files.deleteIfExists(q))
  }

  /** Scratch root for engine-internal ephemeral state (streaming
    * checkpoints, staged stream sources, bench scratch): tmpfs when
    * available, java.io.tmpdir otherwise — the round-12 q60 staging
    * lesson (Multimodal.stageRoot) generalized in round 15. Streaming
    * micro-batches pay REAL filesystem latency per batch (offset WAL +
    * commit log + one state-store delta file per shuffle partition, all
    * rename-committed), so on a disk-backed /tmp the gate's measured
    * wall is partly the host's disk weather; on tmpfs the same code
    * path runs at memory speed and the timed span measures the engine.
    * Production note: on a cluster the checkpoint store is a durability
    * choice (HDFS/S3), not a latency accident of the driver box — this
    * helper only chooses where LOCAL ephemeral state lands. */
  /** Minimum usable tmpfs bytes before we place scratch there (round 16,
    * ADVICE r15 #1): containers commonly mount /dev/shm at 64 MB — writing
    * shuffle/spill/checkpoint scratch into that fails with ENOSPC, and a
    * RAM-backed scratch with no headroom can OOM the host. 8 GiB covers
    * every measured local working set (sf1 rehearsal shuffles ~2 GB,
    * staged media ~1 GB) with slack; below it we fall back to disk /tmp. */
  val MinTmpfsUsableBytes: Long = 8L << 30

  /** True when /dev/shm is a sane scratch target: writable AND with at
    * least [[MinTmpfsUsableBytes]] usable. Shared by every tmpfs chooser
    * (scratchDir, SparkSessionFactory.local, Multimodal.stageRoot). */
  def tmpfsUsable(): Boolean = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    Files.isDirectory(shm) && Files.isWritable(shm) &&
      (try Files.getFileStore(shm).getUsableSpace >= MinTmpfsUsableBytes
       catch { case _: java.io.IOException => false })
  }

  def scratchDir(prefix: String): Path =
    Files.createTempDirectory(scratchRoot(), prefix)

  /** The directory [[scratchDir]] creates under: tmpfs's graft-scratch
    * (swept of stale entries) when usable, java.io.tmpdir otherwise. */
  def scratchRoot(): Path =
    if (tmpfsUsable()) {
      val root = Files.createDirectories(
        java.nio.file.Paths.get("/dev/shm").resolve("graft-scratch"))
      sweepStale(root)
      root
    } else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

  /** Reap graft-scratch entries older than 6 h (ADVICE r15 #2): crashed
    * runs leak RAM-backed trees the OS never cleans, unlike disk /tmp.
    * Any live run is hours younger than the threshold; deletion races
    * with a concurrent sweep are benign (deleteIfExists). */
  private def sweepStale(root: Path): Unit = {
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    try list(root)(_.forEach { d =>
      try {
        if (Files.getLastModifiedTime(d).toMillis < cutoff)
          deleteRecursively(d)
      } catch { case _: java.io.IOException => () }
    }) catch { case _: java.io.IOException => () }
  }
}
