package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The one runner for the streaming GATES, the finite-replay,
  * oracle-checked configurations in `graft.queries`. It is the
  * reference's single sink runner `nodeSink` (Nodes.hs:119-159) mapped to
  * `writeStream.foreachBatch`: the stream is drained to the end of its
  * current input under an AvailableNow trigger, and each micro-batch is
  * handed to the gate's own body. */
object Gate {
  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Drain `stream` in `mode`, checkpointing at `dir/ckpt`, and call
    * `perBatch` with every micro-batch and its id. The stream runs with
    * `statePartitions` shuffle (= state-store) partitions: 1 for a
    * single-group state machine, whose one ordered stream would otherwise
    * create, snapshot and commit a store per partition, all but one
    * forever empty; [[GateTuning.statePartitions]] for keyed state. The
    * pin is captured into the query at `start` and the session's value is
    * restored straight after, even when `start` throws, so whatever reads
    * the result gets the session default. */
  def run(stream: DataFrame, mode: OutputMode, dir: Path, statePartitions: Int)(
      perBatch: (DataFrame, Long) => Unit): Unit = {
    val conf = stream.sparkSession.conf
    val prev = conf.get(ShufflePartitions)
    val q = try {
      conf.set(ShufflePartitions, statePartitions.toString)
      stream.writeStream.outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch((b: Dataset[Row], batchId: Long) => perBatch(b, batchId))
        .start()
    } finally conf.set(ShufflePartitions, prev)
    q.awaitTermination()
  }

  /** The parquet batch sink under `dir/result`. foreachBatch is
    * at-least-once — a micro-batch re-run after a failure is handed over
    * again with the same id — so the write is idempotent either way: an
    * append-mode batch overwrites its own `result/b<batchId>`, a
    * complete-mode batch (the whole result so far) overwrites `result`. */
  def writeBatch(mode: OutputMode, dir: Path)(b: DataFrame, batchId: Long): Unit =
    b.write.mode("overwrite")
      .parquet(if (mode == OutputMode.Complete()) s"$dir/result" else s"$dir/result/b$batchId")

  /** Everything [[writeBatch]] left under `dir`, in either mode. */
  def readBack(spark: SparkSession, dir: Path): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/result")

  /** The common gate: drain `stream` into a fresh `prefix` temp dir
    * through [[writeBatch]] and read the result back. */
  def toParquet(stream: DataFrame, mode: OutputMode, prefix: String,
      statePartitions: Int): DataFrame = {
    val dir = graft.core.TempDirs.create(prefix).toAbsolutePath
    run(stream, mode, dir, statePartitions)(writeBatch(mode, dir))
    readBack(stream.sparkSession, dir)
  }
}
