package graft

import java.net.URI

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.streaming.{ForkFreeLocalFileSystem, StateStores}

/** The one local SparkSession policy. Bench, Verify, Explain, the test
  * suite and the dev probes all build their session here, so the plans
  * Explain prints, the plans Verify checks and the plans Bench times come
  * from the same confs. */
object Session {
  /** `SPARK_GRAFT_CPUS` (default 4): local threads, and the session's
    * shuffle partitions. */
  def cpus(env: Map[String, String] = sys.env): Int =
    graft.core.Knobs.int("SPARK_GRAFT_CPUS", default = 4, min = 1, env)

  /** A `local[cpus]` session with the graft extensions, the env-selected
    * state store, the scheme-chosen checkpoint manager and the fork-free
    * `file:` FileSystem (`StateStores.configure`), UTC session time,
    * tmpfs-first scratch and log level WARN. Fails if `file:` does not
    * resolve to `ForkFreeLocalFileSystem` (see [[checkLocalFs]]). */
  def local(cpus: Int): SparkSession = {
    val spark = StateStores.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // a non-UTC host would otherwise group windows and dates differently
      // from what the oracles check
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.catalyst.GraftExtensions")
      // shuffle/spill on the same tmpfs-first scratch as checkpoints: host
      // disk latency must not leak into query timings (see TempDirs)
      .config("spark.local.dir", graft.core.TempDirs.sparkLocalDir())
      .config("spark.ui.enabled", "false")
      // The janino codegen cache holds 100 compiled units by default; a
      // multi-query pass generates far more (each query contributes 5-15
      // WholeStageCodegen/expression units), so round-robin passes evict
      // and recompile EVERY unit inside every timed run — and the freshly
      // loaded classes run interpreted until the JIT re-warms them. The
      // thrash is invisible on small subsets (under ~100 units) and grows
      // with co-resident query count — the graded heavy-query inflation
      // measured at the 100x step (q_dsir 11s isolated vs 18-19s in a
      // 19-query run). Size the cache to the whole surface.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // ui.enabled=false does NOT stop the in-memory status stores:
      // AppStatusListener and SQLAppStatusListener retain up to 1000
      // executions/jobs/stages of metrics + full SparkPlanInfo trees by
      // default. Over a multi-hundred-run bench session that is old-gen
      // ballast that grows with every query run — measured at the 100x
      // scale step as graded inflation of heavy entries with co-resident
      // query count (q_dsir 11.0s isolated, 13.6s in a 5-query run,
      // 19.5s in a 19-query run, runs=3 each). Keep only what the
      // current query needs.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.ui.retainedDeadExecutors", "1"))
      .getOrCreate()
    checkLocalFs(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The Hadoop FileSystem cache is keyed by scheme, authority and user,
    * not by the conf: a `file:` FileSystem created before this session
    * (or a session built without `StateStores.configure`) keeps serving
    * every `file:` path, and every file and directory it creates forks a
    * `chmod`. Fail loudly instead. */
  private def checkLocalFs(spark: SparkSession): Unit = {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    if (!fs.isInstanceOf[ForkFreeLocalFileSystem]) throw new IllegalStateException(
      s"file: resolves to ${fs.getClass.getName}, not ${classOf[ForkFreeLocalFileSystem].getName}: " +
        "a file: FileSystem was created before this session, and the Hadoop FileSystem cache " +
        s"ignores the session's spark.hadoop.${StateStores.LocalFsKey}; every file it creates " +
        "would fork a chmod process. Build the session before touching file: paths.")
  }
}
