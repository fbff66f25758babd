package graft.core

import java.nio.file.{Files, Path, Paths}

/** Registry of process-scoped temp dirs, all recursively deleted on JVM
  * exit. The bench reruns each driver query 3+ times per round, and the
  * streaming queries need a checkpoint + result dir per run — without a
  * registry those accumulate in /tmp across rounds. Dirs stay alive for
  * the whole process (returned DataFrames read them lazily); the shutdown
  * hook reaps them.
  *
  * Base dir: a RAM-backed tmpfs (`/dev/shm` on Linux) when one is
  * writable, else the platform temp dir. Everything created here is
  * harness scratch — replay source chunks, streaming-gate checkpoints,
  * foreachBatch result parquet — and a checkpoint commit fsync on a
  * host-contended disk dominates streaming-gate wall time (measured
  * ~2.7 ms/fsync vs microseconds on tmpfs, inflating gate floors ~2x
  * round-over-round with zero code change). Production streams pass
  * their own durable `checkpointLocation` and never come through here.
  * Override with `GRAFT_TMP_BASE=/some/dir` (e.g. to force disk when
  * scratch would not fit in RAM).
  */
object TempDirs {
  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private val base: Option[Path] = baseDir(sys.env)

  /** `GRAFT_TMP_BASE` (a blank value fails), else `/dev/shm`; None when
    * that is not a writable directory. */
  private[core] def baseDir(env: Map[String, String]): Option[Path] =
    Some(Paths.get(Knobs.string("GRAFT_TMP_BASE", env).getOrElse("/dev/shm")))
      .filter(p => Files.isDirectory(p) && Files.isWritable(p))

  // Reap leftovers from crashed/SIGKILLed sibling JVMs: the shutdown hook
  // never ran for them, and on tmpfs a leaked dir is leaked RAM until
  // reboot. 12h is far beyond any single Verify/Bench process lifetime,
  // so a concurrent live run's dirs are never touched.
  private val StalePrefix = "graft_"
  private val StaleAfterMs = 12L * 3600 * 1000
  base.foreach { b =>
    try {
      val now = System.currentTimeMillis()
      val s = Files.list(b)
      try s.filter(p => p.getFileName.toString.startsWith(StalePrefix))
        .filter(p => now - Files.getLastModifiedTime(p).toMillis > StaleAfterMs)
        .forEach(deleteRecursively)
      finally s.close()
    } catch {
      // Files.list streams wrap mid-iteration IO failures (e.g. a racing
      // sibling deleting an entry) in UncheckedIOException.
      case _: java.io.IOException           => ()
      case _: java.io.UncheckedIOException  => ()
    }
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    registered.forEach(deleteRecursively)
  }))

  /** Create a temp dir that will be recursively deleted at JVM exit. */
  def create(prefix: String): Path = {
    val p = base match {
      case Some(b) => Files.createTempDirectory(b, prefix)
      case None    => Files.createTempDirectory(prefix)
    }
    registered.add(p)
    p
  }

  /** A registered scratch dir for `spark.local.dir` (shuffle files, block
    * manager spill). Harness mains (Verify/Bench) pass this to the session
    * builder so shuffle IO follows the same tmpfs-first policy as
    * checkpoints; library users on a real cluster never see it — executors
    * there get local dirs from the cluster manager (YARN/K8s). */
  def sparkLocalDir(): String = create("graft_spark_local_").toAbsolutePath.toString

  /** Recursive delete; symlinks are removed, never followed. Best-effort:
    * a cleanup failure at shutdown must not mask the real exit status. */
  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
      catch {
        case _: java.io.IOException          => ()
        case _: java.io.UncheckedIOException => ()
      }
      finally s.close()
    }
}
