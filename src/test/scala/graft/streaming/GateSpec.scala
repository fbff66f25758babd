package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}

import graft.SparkSuite
import graft.core.TempDirs

/** [[Gate]]: the shuffle-partition pin never leaks into the session, and
  * an append gate's sink survives foreachBatch's at-least-once retry. */
class GateSpec extends SparkSuite {

  private val Partitions = "spark.sql.shuffle.partitions"

  /** Three parquet files of 100 rows each, replayed one file per
    * micro-batch. */
  private lazy val srcDir: String = {
    val d = TempDirs.create("graft_gate_src_").resolve("data").toString
    spark.range(0, 300).selectExpr("id", "id % 7 AS k").repartition(3).write.parquet(d)
    d
  }
  private def replay(): DataFrame =
    spark.readStream.schema("id BIGINT, k BIGINT").option("maxFilesPerTrigger", 1)
      .parquet(srcDir)

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("shuffle partitions are pinned for the stream and restored after it, " +
      "also when start throws") {
    val before = spark.conf.get(Partitions)
    @volatile var batchPartitions = Set.empty[Int]
    Gate.run(replay().groupBy("k").count(), OutputMode.Complete,
        TempDirs.create("graft_gate_pin_"), statePartitions = 3) { (b, _) =>
      batchPartitions += b.rdd.getNumPartitions
      b.write.format("noop").mode("overwrite").save() // every store must commit
    }
    assert(batchPartitions == Set(3))
    assert(spark.conf.get(Partitions) == before)
    // complete mode without an aggregation is rejected by start()
    intercept[AnalysisException] {
      Gate.run(replay(), OutputMode.Complete, TempDirs.create("graft_gate_pin_"),
        statePartitions = 3)((_, _) => ())
    }
    assert(spark.conf.get(Partitions) == before)
  }

  test("an append gate re-run after a failed batch reads back no duplicate rows") {
    val want = ids(Gate.toParquet(replay(), OutputMode.Append, "graft_gate_ok_", 1))
    assert(want == (0L until 300L))
    val dir = TempDirs.create("graft_gate_retry_").toAbsolutePath
    val sink = Gate.writeBatch(OutputMode.Append, dir) _
    @volatile var injected = false
    // first attempt: batch 1 writes its rows, then fails
    intercept[StreamingQueryException] {
      Gate.run(replay(), OutputMode.Append, dir, 1) { (b, batchId) =>
        sink(b, batchId)
        if (batchId == 1 && !injected) {
          injected = true
          throw new IllegalStateException("injected failure after batch 1's write")
        }
      }
    }
    assert(injected)
    // restart on the same checkpoint: batch 1 is handed over again
    Gate.run(replay(), OutputMode.Append, dir, 1)(sink)
    assert(ids(Gate.readBack(spark, dir)) == want)
  }
}
