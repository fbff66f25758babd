package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.ConcurrentHashMap

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
    * `File.renameTo`, atomic on POSIX.
    *
    * That alone does not make it fork-free. On Hadoop's stock `file:`
    * FileSystem every created file and every created directory is
    * `chmod`ed, and when libhadoop's native code is not loaded
    * `RawLocalFileSystem.setPermission` runs `chmod` as a child process. A
    * JFR recording of one untraced perfbench taxi replay (seed 501, 4-core
    * VM) counted 865 process starts, 847 of them `chmod` under this
    * manager: 671 in `createTempFile`, 164 in `mkdirs` and 12 in
    * `createCheckpointDirectory`. So for `file:` locations
    * [[SchemeCheckpointFileManager]] runs this manager on
    * [[ForkFreeLocalFileSystem]] instead, which sets the same mode bits
    * through `java.nio` and writes the same `.crc` files. One thing does
    * change: with hive-exec on the classpath `file:` resolves to Hive's
    * `ProxyLocalFileSystem`, whose rename refuses to replace a file, so an
    * overwriting `createAtomic` (a re-run batch's state-store delta) kept
    * the old file and left its temp file behind; here it replaces it, as
    * Spark's FileContext-based manager does. The tax is per metadata
    * write, not per row, so this is the right manager for local checkpoint
    * dirs at ANY scale. It is not pinned: HDFS/S3/… keep Spark's own
    * choice. */
  val LocalFsCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** The session conf that names the checkpoint file-manager class. */
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `SPARK_GRAFT_CKPT_MANAGER`: unset → [[SchemeCheckpointFileManager]],
    * `default` → Spark's own choice for every scheme, anything else → that
    * manager class; a blank value fails. */
  private[streaming] def checkpointManagerFromEnv(env: Map[String, String]): Option[String] =
    Knobs.string("SPARK_GRAFT_CKPT_MANAGER", env) match {
      case None => Some(classOf[SchemeCheckpointFileManager].getName)
      case Some("default") => None // Spark's own choice (FileContext-based)
      case cls => cls
    }

  /** Apply the env-selected provider (+ its companion confs) and the
    * checkpoint file manager to a session builder (provider is a no-op
    * when SPARK_GRAFT_STATE_STORE is unset — Spark's default applies). */
  def configure(b: SparkSession.Builder, env: Map[String, String] = sys.env)
      : SparkSession.Builder = {
    val withCkpt = checkpointManagerFromEnv(env).fold(b)(b.config(CheckpointManagerKey, _))
    fromEnv(env).fold(withCkpt) { case (provider, extras) =>
      extras.foldLeft(withCkpt.config("spark.sql.streaming.stateStore.providerClass", provider)) {
        case (bb, (k, v)) => bb.config(k, v)
      }
    }
  }
}

/** Checkpoint file manager chosen by the checkpoint location's URI scheme
  * (a path without one takes the default filesystem's): `file:` gets the
  * FileSystem-based manager on [[ForkFreeLocalFileSystem]]
  * ([[StateStores.LocalFsCheckpointManager]] says why), every other scheme
  * gets what `CheckpointFileManager.create` picks when no manager class is
  * configured — the FileContext-based manager where the scheme has an
  * `AbstractFileSystem`, as on HDFS. */
final class SchemeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file")
      new FileSystemBasedCheckpointFileManager(path, ForkFreeLocalFileSystem.conf(hadoopConf))
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
  * verified as on the stock one) over [[ForkFreeRawLocalFileSystem]]. */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

object ForkFreeLocalFileSystem {
  /** What the local FileSystem reads from its conf. */
  private val LocalFsKeys = Seq(
    "fs.permissions.umask-mode", "file.bytes-per-checksum", "file.stream-buffer-size",
    "io.file.buffer.size", "fs.local.block.size", "fs.file.checksum.verify")

  private val confs = new ConcurrentHashMap[Seq[String], Configuration]()

  /** A conf under which `file:` paths resolve to a new
    * [[ForkFreeLocalFileSystem]]. The FileSystem cache is keyed without the
    * conf, so it is bypassed: the cached stock instance would win. One copy
    * of `hadoopConf` per distinct value of [[LocalFsKeys]], not one per
    * manager: every stream and every state store makes a manager, and a
    * copy per manager measured 5–10 MB more heap after GC in a perfbench
    * taxi replay (4-core VM). */
  def conf(hadoopConf: Configuration): Configuration =
    confs.computeIfAbsent(LocalFsKeys.map(hadoopConf.get), _ => {
      val c = new Configuration(hadoopConf)
      c.setClass("fs.file.impl", classOf[ForkFreeLocalFileSystem], classOf[FileSystem])
      c.setBoolean("fs.file.impl.disable.cache", true)
      c.setClassLoader(classOf[ForkFreeLocalFileSystem].getClassLoader)
      c
    })
}

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
