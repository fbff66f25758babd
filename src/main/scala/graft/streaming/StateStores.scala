package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

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
    * anything else → directed error. */
  def fromEnv(env: Map[String, String] = sys.env): Option[(String, Map[String, String])] =
    env.get("SPARK_GRAFT_STATE_STORE").map {
      case "rocksdb" => (RocksDBProvider, RocksDBExtras)
      case "default" => (DefaultProvider, Map.empty[String, String])
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATE_STORE=$other is not a known state store " +
          "(expected 'rocksdb' or 'default'); for a custom provider set " +
          "spark.sql.streaming.stateStore.providerClass directly")
    }

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
    * `File.renameTo` — no fork, atomic on POSIX — so it is the right
    * manager for local checkpoint dirs at ANY scale (the tax is per
    * metadata write, not per row). It is not pinned: the session default is
    * [[SchemeCheckpointFileManager]], which uses it for `file:` locations
    * only and leaves HDFS/S3/… to Spark's own choice. */
  val LocalFsCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** The session conf that names the checkpoint file-manager class. */
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `SPARK_GRAFT_CKPT_MANAGER`: unset → [[SchemeCheckpointFileManager]],
    * `default` → Spark's own choice for every scheme, anything else → that
    * manager class. */
  private[streaming] def checkpointManagerFromEnv(env: Map[String, String]): Option[String] =
    env.get("SPARK_GRAFT_CKPT_MANAGER") match {
      case None => Some(classOf[SchemeCheckpointFileManager].getName)
      case Some("default") => None // Spark's own choice (FileContext-based)
      case Some(cls) => Some(cls)
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
  * FileSystem-based manager ([[StateStores.LocalFsCheckpointManager]] says
  * why), every other scheme gets what `CheckpointFileManager.create` picks
  * when no manager class is configured — the FileContext-based manager
  * where the scheme has an `AbstractFileSystem`, as on HDFS. */
final class SchemeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, hadoopConf)
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
