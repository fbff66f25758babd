package graft

import graft.streaming.{SchemeCheckpointFileManager, StateStores}

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
  }
}
