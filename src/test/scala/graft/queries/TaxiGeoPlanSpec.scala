package graft.queries

import org.apache.spark.sql.catalyst.expressions.GetJsonObject
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{SparkEntry, SparkSuite}

/** The taxi queries derive the dropoff geo from `props.k`. Its JSON is
  * parsed once per row, however many range conjuncts read the dropoff
  * cells, and not at all by a query that reads no dropoff column. */
class TaxiGeoPlanSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val sfDir = "/root/testdata/sf0.001"

  private def jsonParses(query: String): Int = {
    val plan = SparkEntry.queries(query)(spark, sfDir).queryExecution.executedPlan
    flatMap(plan)(_.expressions.flatMap(_.collect { case g: GetJsonObject => g })).size
  }

  test("each taxi query's executed plan parses props.k at most once") {
    val parses = Seq("q_taxi_cells", "q_taxi_q1", "q_taxi_q2", "q_taxi_empty")
      .map(q => q -> jsonParses(q)).toMap
    assert(parses == Map("q_taxi_cells" -> 1, "q_taxi_q1" -> 1, "q_taxi_q2" -> 1, "q_taxi_empty" -> 0))
  }
}
