package graft.streaming

/** State-partition counts for the streaming pipelines: the
  * `spark.sql.shuffle.partitions` a stateful query is started with, which
  * is also its number of state-store partitions. The count is fixed when a
  * query's checkpoint is created; a restart keeps it whatever the session
  * says. Every extra partition is paid on each micro-batch: one more task,
  * and one more store to load, version and commit (measured round 19: a
  * chained agg→join gate at 4 partitions paid 3 stateful operators x 4
  * partitions x 2-4 store instances of commit per batch, dominating
  * addBatch wall). Central so each certified value is one committed
  * constant rather than scattered literals.
  */
object GateTuning {
  /** 1: the state partitions of a pipeline whose state is one ordered
    * stream. A lowered StreamGraph keys every event to one constant group,
    * so a second partition only holds a store that stays empty forever. With
    * one partition over a single-partition input (the socket source),
    * `EnsureRequirements` plans no exchange before the state operator and
    * each trigger runs as one stage of one task. The perfbench harnesses
    * (wearable_live and taxi_replay) start their queries at this value;
    * taxi runs at 1 as well because its four-core drain is no faster than
    * a one-core one (`exec.speedup_vs_1core` about 1.0), so more
    * partitions only add tasks and exchanges to each trigger. */
  val statePartitions: Int = 1

  /** The same value as the string `conf.set` wants. */
  def statePartitionsStr: String = statePartitions.toString

  /** State partitions for the keyed streaming gates: 2, which exercises
    * cross-partition keyed state sharding (the production shape: several
    * stores, keys hash-routed between them) at half the per-batch commit
    * tax of the previous 4. */
  val shardedStatePartitions: Int = 2
}
