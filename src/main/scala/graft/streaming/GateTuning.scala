package graft.streaming

/** Harness-scale tuning shared by the streaming GATES (the finite-replay
  * oracle-checked configurations in `queries/`). Production pipelines size
  * `spark.sql.shuffle.partitions` to the cluster; the gates replay a toy
  * stream whose whole keyed state is a few hundred KB, so every extra
  * state-store partition is a pure per-micro-batch commit tax (each
  * partition loads, versions, and commits its own store file per batch —
  * measured round 19: a chained agg→join gate at 4 partitions pays 3
  * stateful operators x 4 partitions x 2-4 store instances of commit per
  * batch, dominating addBatch wall). Central so the certified value is one
  * committed constant rather than 17 scattered literals.
  */
object GateTuning {
  /** Shuffle/state partitions for keyed streaming gates: 2, which still
    * exercises cross-partition keyed state sharding (the production 100 TB
    * shape — multiple stores, keys hash-routed between them) at half the
    * per-batch commit tax of the previous 4. 1 would be cheaper still but
    * would stop demonstrating sharded state. */
  val statePartitions: Int = 2

  /** The same value as the string `conf.set` wants. */
  def statePartitionsStr: String = statePartitions.toString
}
