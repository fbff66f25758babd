package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite
import graft.core.TempDirs

/** Generated code is compiled once per process, not once per streaming
  * query: every query runs its tasks under the same class loader
  * (`StateStores.configure` turns off per-session artifact isolation), so
  * Spark's codegen cache, keyed by class loader and source, serves a
  * second query of the same shape. */
class CodegenReuseSpec extends SparkSuite {

  test("a second streaming query of the same shape compiles no generated class") {
    val src = TempDirs.create("graft_codegen_src_").resolve("data").toString
    spark.range(0, 300).selectExpr("id", "id % 7 AS k").repartition(3).write.parquet(src)
    def drainSum(): Long = {
      val counts = spark.readStream.schema("id BIGINT, k BIGINT").option("maxFilesPerTrigger", 1)
        .parquet(src).groupBy("k").count()
      Gate.toParquet(counts, OutputMode.Complete, "graft_codegen_gate_", statePartitions = 2)
        .collect().map(_.getLong(1)).sum
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(drainSum() == 300L)
    val before = compiles
    assert(drainSum() == 300L)
    assert(compiles - before == 0L, "classes compiled by the second query")
  }
}
