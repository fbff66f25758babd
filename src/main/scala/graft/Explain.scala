package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: print the formatted physical plan of named driver queries as
  * AQE actually ran it — the plan-audit loop ("is the filter pushed, is the
  * small side broadcast, does codegen span the hot path"). Each query runs
  * through the `noop` sink first, and the plan printed is that write's, so
  * runtime choices (a shuffled join converted to a broadcast, coalesced
  * partitions) show under `AdaptiveSparkPlan isFinalPlan=true`. Usage:
  * `runMain graft.Explain <sfDir> <query> [<query> ...]`, on the session
  * Bench times (`Session.local`, SPARK_GRAFT_CPUS threads). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(Session.cpus())
    // listener callbacks arrive asynchronously, in execution order
    val ran = new LinkedBlockingQueue[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ran.put(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def noopWrite(): QueryExecution = {
      val qe = ran.poll(60, TimeUnit.SECONDS)
      require(qe != null, "the noop write's execution never reached the listener")
      if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) qe else noopWrite()
    }
    names.foreach { n =>
      println(s"\n===== $n =====")
      try {
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(noopWrite().explainString(ExplainMode.fromString("formatted")))
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
