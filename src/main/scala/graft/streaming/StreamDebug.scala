package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch attribution for every streaming query of a session, on
  * stderr: durationMs phases (queryPlanning / addBatch / walCommit /
  * commitOffsets / latestOffset) plus per-stateful-operator commit times
  * and state rows. `graft.Session` installs it when
  * SPARK_GRAFT_STREAM_DEBUG asks for it; the dev probes install it
  * unconditionally. Diagnostic-only: unset, the bench/verify hot path
  * carries no listener. */
object StreamDebug {
  /** The single definition of the "=1" contract: SPARK_GRAFT_STREAM_DEBUG
    * enables debug output only when set to "1"/"true" — mere presence (or
    * =0/empty, e.g. left over in a wrapper script) must not. */
  def requested: Boolean =
    sys.env.get("SPARK_GRAFT_STREAM_DEBUG")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  private object Listener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.map { o =>
        s"${o.operatorName}(commit=${o.commitTimeMs}ms total=${o.allUpdatesTimeMs + o.allRemovalsTimeMs}ms rows=${o.numRowsTotal} mem=${o.memoryUsedBytes})"
      }.mkString(" ")
      System.err.println(s"[stream-debug] sink=${p.sink.description.take(60)} " +
        s"batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs} $ops")
    }
  }

  /** Register the listener on `spark`; a second call on the same session
    * is a no-op. */
  def install(spark: SparkSession): Unit =
    if (!spark.streams.listListeners().contains(Listener)) spark.streams.addListener(Listener)
}
