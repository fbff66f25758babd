package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.SparkSuite

/** The checkpoint file-manager swap (StateStores.LocalFsCheckpointManager —
  * round 20) must be RESULT-INVISIBLE: the manager only changes how the
  * offset/commit metadata logs are renamed into place (File.renameTo vs a
  * FileContext rename that shells out per call on local filesystems), so
  * every stateful gate must produce identical rows under Spark's default
  * FileContext-based manager and the FileSystem-based one the graft entry
  * points use for their tmpfs checkpoints — and that choice follows the
  * checkpoint location's scheme. */
class CheckpointManagerSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private val confKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val FileContextManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  private def withManager[T](manager: String)(body: => T): T = {
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, manager)
    try body
    finally prev.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
  }

  private def rows(name: String): Seq[String] = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect().map(_.toString).sorted.toSeq
  }

  // one gate per checkpoint-traffic shape: a chained agg->join (offset +
  // commit logs + join/agg state commits per batch), a keyed typed state
  // machine, and the dropDuplicates key-set state
  for (gate <- Seq("q_streaming_join_w", "q_streaming_scan_bykey", "q_streaming_dedup")) {
    test(s"$gate produces identical results under both checkpoint managers") {
      val onFs = withManager(StateStores.LocalFsCheckpointManager) { rows(gate) }
      val onFc = withManager(FileContextManager) { rows(gate) }
      assert(onFs.nonEmpty, s"$gate returned no rows under the FileSystem manager")
      assert(onFs == onFc,
        s"$gate diverged between checkpoint managers: fs=${onFs.size} rows, " +
          s"filecontext=${onFc.size} rows")
    }
  }

  test("StateStores checkpoint-manager env resolution: unset, default, custom") {
    assert(StateStores.checkpointManagerFromEnv(Map.empty)
      .contains(classOf[SchemeCheckpointFileManager].getName))
    assert(StateStores.checkpointManagerFromEnv(
      Map("SPARK_GRAFT_CKPT_MANAGER" -> "default")).isEmpty)
    assert(StateStores.checkpointManagerFromEnv(
      Map("SPARK_GRAFT_CKPT_MANAGER" -> "com.example.MyManager"))
      .contains("com.example.MyManager"))
  }

  test("the session's checkpoint manager is chosen by the location's scheme") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(confKey, classOf[SchemeCheckpointFileManager].getName)
    // a second scheme, with a FileSystem and a FileContext binding
    conf.set("fs.graftck.impl", classOf[RawLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.graftck.impl", classOf[GraftCkFs].getName)
    def picked(p: String): CheckpointFileManager =
      CheckpointFileManager.create(new Path(p), conf) match {
        case m: SchemeCheckpointFileManager => m.delegate
        case other => fail(s"the configured manager was not used: ${other.getClass.getName}")
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-scheme").toString
    assert(picked(s"file://$dir").getClass.getName == StateStores.LocalFsCheckpointManager)
    assert(picked(dir).getClass.getName == StateStores.LocalFsCheckpointManager)
    // any other scheme gets what Spark picks with no manager configured
    val sparkDefault = new Configuration(conf)
    sparkDefault.unset(confKey)
    val other = s"graftck://$dir"
    assert(picked(other).getClass == CheckpointFileManager.create(new Path(other), sparkDefault).getClass)
    assert(picked(other).getClass.getName == FileContextManager)
  }
}

/** The `graftck:` scheme's FileContext binding: the local filesystem. */
class GraftCkFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "graftck", false)
