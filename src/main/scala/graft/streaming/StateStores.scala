package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.core.Knobs

/** State-store provider selection for the streaming surface.
  *
  * All keyed stateful operators ([[StreamingOps]], the lowered state
  * machines in `graft.plans.StreamingLowering`, and Spark's own
  * window/dedup/join state) keep their state in the configured
  * StateStoreProvider. The default HDFS-backed provider holds every
  * key's state on the executor HEAP — fine at gate scale, but at 100 TB
  * keyed state (billions of keys) it OOMs executors; RocksDB spills
  * state to local disk with a bounded block cache, which is the provider
  * a production deployment of this library would run. The reference's
  * analogous bound is its back-pressured bounded channel
  * (`/root/reference/src/Striot/Nodes.hs:214`) — state there is one
  * in-flight window per node, so heap sufficed; ours is per-key and
  * unbounded in key cardinality, hence the pluggable store.
  *
  * Selection is an environment switch so the SAME query surface runs
  * under either provider with no code change (provider portability is
  * itself the contract being proven — `RocksDBStateStoreSpec` pins that
  * every keyed gate produces identical results under both).
  */
object StateStores {

  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Spark's built-in default (heap-backed); named here so specs can flip
    * back explicitly after testing RocksDB. */
  val DefaultProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Production companions applied alongside the RocksDB provider:
    * changelog checkpointing commits a per-batch changelog instead of
    * uploading full RocksDB snapshots each batch — at billions of keys a
    * snapshot upload per micro-batch per store dominates the commit path,
    * while changelogs are O(batch delta) (snapshots still happen, async,
    * in the maintenance thread). */
  val RocksDBExtras: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Resolve `SPARK_GRAFT_STATE_STORE` to (provider class, companion
    * confs): unset → None (keep Spark's default), `rocksdb` → RocksDB +
    * [[RocksDBExtras]], `default` → the heap-backed default (explicit),
    * anything else → an error naming the variable. A custom provider is
    * set through `spark.sql.streaming.stateStore.providerClass` directly. */
  def fromEnv(env: Map[String, String] = sys.env): Option[(String, Map[String, String])] =
    Option.when(env.contains(StateStoreKnob)) {
      Knobs.oneOf(StateStoreKnob, "default", Seq("rocksdb", "default"), env, what = "state store") match {
        case "rocksdb" => (RocksDBProvider, RocksDBExtras)
        case _ => (DefaultProvider, Map.empty[String, String])
      }
    }

  private val StateStoreKnob = "SPARK_GRAFT_STATE_STORE"

  /** Checkpoint metadata-log file manager for the LOCAL-filesystem
    * checkpoints every graft entry point uses (ephemeral tmpfs dirs, see
    * TempDirs). Spark's default prefers the Hadoop FileContext API for its
    * rename-based atomic create; on `file:` filesystems every FileContext
    * rename stats the target via `FileUtil.readLink`, which SHELLS OUT
    * (`Shell.execCommand` → fork+exec — copying a multi-GB JVM's page
    * tables per call). Measured round 20 by jstack-sampling the stream
    * execution thread: 24/184 samples inside `ProcessImpl.forkAndExec`
    * under `FileContextBasedCheckpointFileManager.renameTempFile`, and the
    * same-session A/B on the gates read join_w 3.7→2.3 s, taxi_q2
    * 4.6→2.8 s, stateless 1.0→0.75 s per run. The FileSystem-based manager
    * keeps the identical write-temp-then-rename protocol but renames via
    * `File.renameTo`, atomic on POSIX, on the process's `file:` FileSystem
    * — [[ForkFreeLocalFileSystem]] (see [[configure]]), so creating a
    * checkpoint file or directory starts no `chmod` process either. The tax
    * is per metadata write, not per row, so this is the right manager for
    * local checkpoint dirs at ANY scale. It is not pinned:
    * [[SchemeCheckpointFileManager]] gives HDFS/S3/… Spark's own choice. */
  val LocalFsCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** The session conf that names the checkpoint file-manager class. */
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The Hadoop conf that names the `file:` FileSystem class. */
  val LocalFsKey = "fs.file.impl"

  /** The session conf that gives each session its own artifact class
    * loader. */
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Apply the env-selected provider (+ its companion confs), the
    * scheme-chosen checkpoint file manager, the fork-free `file:`
    * FileSystem and one class loader for every session to a session
    * builder (provider is a no-op when SPARK_GRAFT_STATE_STORE is unset —
    * Spark's default applies).
    *
    * Without libhadoop's native code, Hadoop's stock local FileSystem runs
    * `chmod` as a child process — a fork of the whole JVM — for every file
    * and directory it creates: checkpoint logs, state-store deltas, every
    * parquet part file, `_temporary` dir, `_SUCCESS` and `.crc`. A JFR
    * recording of one untraced perfbench taxi replay (seed 501, 4-core VM)
    * counted 865 process starts, 847 of them `chmod` under the checkpoint
    * manager, and one catalog_batch run 55 more in its parquet writes.
    * Naming [[ForkFreeLocalFileSystem]] here makes it what `file:` resolves
    * to for every reader and writer in the process. `Session.local` checks
    * that it took: the Hadoop FileSystem cache ignores the conf, so a
    * `file:` FileSystem created before the session keeps serving.
    *
    * Spark caches generated code per (class loader, source). With artifact
    * isolation on (Spark 4's default) every session, and so every session
    * clone a streaming query runs on, has its own artifact UUID, and its
    * tasks run under a class loader of that UUID: each new streaming query
    * compiles every generated class again, and each Janino lookup of a
    * class that does not exist asks the driver's file server. Nothing in
    * the program adds session artifacts, so turning isolation off runs
    * every task under the process's one class loader and compiles a class
    * once per JVM. On one untraced perfbench taxi replay (seed 720, 4-core
    * VM) the compiles on executor threads fell from 341 (8.4 s) to 187
    * (2.7 s) while the run drained as many trips. */
  def configure(b: SparkSession.Builder, env: Map[String, String] = sys.env)
      : SparkSession.Builder = {
    val base = b.config(CheckpointManagerKey, classOf[SchemeCheckpointFileManager].getName)
      .config(s"spark.hadoop.$LocalFsKey", classOf[ForkFreeLocalFileSystem].getName)
      .config(ArtifactIsolationKey, "false")
    fromEnv(env).fold(base) { case (provider, extras) =>
      extras.foldLeft(base.config("spark.sql.streaming.stateStore.providerClass", provider)) {
        case (bb, (k, v)) => bb.config(k, v)
      }
    }
  }
}

/** Checkpoint file manager chosen by the checkpoint location's URI scheme
  * (a path without one takes the default filesystem's): `file:` gets the
  * FileSystem-based manager ([[StateStores.LocalFsCheckpointManager]]
  * says why) on the process's cached `file:` FileSystem, every other scheme
  * gets what `CheckpointFileManager.create` picks when no manager class is
  * configured — the FileContext-based manager where the scheme has an
  * `AbstractFileSystem`, as on HDFS. */
final class SchemeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file")
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val sparkChoice = new Configuration(hadoopConf)
      sparkChoice.unset(StateStores.CheckpointManagerKey)
      CheckpointFileManager.create(path, sparkChoice)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  def open(p: Path): org.apache.hadoop.fs.FSDataInputStream = delegate.open(p)
  def list(p: Path, filter: PathFilter): Array[org.apache.hadoop.fs.FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[org.apache.hadoop.fs.FileStatus] = delegate.list(p)
  def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  def exists(p: Path): Boolean = delegate.exists(p)
  def delete(p: Path): Unit = delegate.delete(p)
  def isLocal: Boolean = delegate.isLocal
  def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

/** Hadoop's checksummed `file:` FileSystem (`.crc` files written and
  * verified as on the stock one) over [[ForkFreeRawLocalFileSystem]]: the
  * process's `file:` FileSystem ([[StateStores.configure]]). It replaces
  * Hive's `ProxyLocalFileSystem`, which `file:` resolves to with hive-exec
  * on the classpath and whose only override, `rename`, refuses to replace
  * an existing file: an overwriting `createAtomic` (a re-run batch's
  * state-store delta) kept the old file and left its temp file behind.
  * Here it replaces it, as Spark's FileContext-based manager does. */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the mode bits through
  * `java.nio` instead of running `chmod` as a child process, as the stock
  * one does whenever libhadoop's native code is not loaded. The stock path
  * still handles the sticky bit and filesystems without POSIX attributes. */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (mode & (0x100 >> i)) != 0 => perm
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
