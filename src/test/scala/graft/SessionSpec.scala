package graft

import java.net.URI
import java.security.PrivilegedExceptionAction

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.streaming.OutputMode

import graft.core.TempDirs
import graft.streaming.{ForkFreeLocalFileSystem, Gate, SchemeCheckpointFileManager, StateStores}

/** The one session policy (`Session.local`) is what the suite runs on. */
class SessionSpec extends SparkSuite {

  test("the suite's session carries the Bench/Verify policy") {
    val optimizer = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.optimizer
    assert(optimizer.extendedOperatorOptimizationRules
      .contains(graft.plans.catalyst.PushFilterIntoExplode))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(conf.get("spark.sql.ui.retainedExecutions") == "8")
    assert(spark.conf.get(StateStores.CheckpointManagerKey) ==
      classOf[SchemeCheckpointFileManager].getName)
    assert(spark.conf.get(StateStores.ArtifactIsolationKey) == "false")
  }

  test("file: is the fork-free FileSystem, and a parquet gate drain starts no process") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val src = TempDirs.create("graft_session_src_").resolve("data").toString
    spark.range(0, 300).selectExpr("id", "id % 7 AS k").repartition(3).write.parquet(src)
    val starts = ProcessStarts.during {
      val counts = spark.readStream.schema("id BIGINT, k BIGINT").option("maxFilesPerTrigger", 1)
        .parquet(src).groupBy("k").count()
      val out = Gate.toParquet(counts, OutputMode.Complete, "graft_session_gate_", statePartitions = 2)
      assert(out.collect().map(_.getLong(1)).sum == 300L)
    }
    assert(starts.isEmpty, s"${starts.size} process start(s) with file: on ${fs.getClass.getName}; " +
      s"first: ${starts.headOption.fold("")(_.take(16).mkString(" <- "))}")
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
  }

  test("Session.local fails naming the FileSystem cache when file: was resolved before it") {
    // the cache is keyed by user: a stock file: FileSystem cached for
    // another user is what the session meets under that user
    val other = UserGroupInformation.createRemoteUser("graft-session-spec")
    try {
      val e = other.doAs(new PrivilegedExceptionAction[IllegalStateException] {
        def run(): IllegalStateException = {
          FileSystem.get(URI.create("file:///"), new Configuration())
          intercept[IllegalStateException](Session.local(4))
        }
      })
      assert(e.getMessage.contains("FileSystem cache"), e.getMessage)
      assert(e.getMessage.contains(classOf[ForkFreeLocalFileSystem].getName), e.getMessage)
    } finally FileSystem.closeAllForUGI(other)
  }
}
