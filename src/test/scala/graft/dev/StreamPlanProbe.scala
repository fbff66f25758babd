package graft.dev

import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Diagnostic main (test scope): Catalyst rule-level timing for selected
  * streaming gates.
  *
  * It answers "WHICH optimizer/analyzer rules the repeated incremental
  * planning spends its time in", via `RuleExecutor.dumpTimeSpent()` deltas
  * around each query. "WHICH phase is slow per batch" (queryPlanning /
  * addBatch / walCommit ..., state rows and memory) is in Spark's own
  * `QueryProgressEvent`s: run with `-Dspark.eventLog.enabled=true
  * -Dspark.eventLog.dir=file:///...` and read the decompressed log with
  * `tools/trigger_shape.py`.
  *
  * Usage: sbt "Test/runMain graft.dev.StreamPlanProbe q_streaming_join_w q_streaming_taxi_q2"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4),
  *      SPARK_GRAFT_PROBE_RUNS (default 2; run >1 so the second run's
  *      numbers are JIT-warm — the bench's steady state).
  */
object StreamPlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // a bare integer argument sets the run count (fork env vars are awkward
    // to set per-invocation from the sbt shell); query names follow.
    // --ab=key=value runs each query `runs` times WITHOUT the conf (A) then
    // `runs` times WITH it (B) in the SAME session — the same-session A/B
    // the round ritual requires for any config experiment.
    val runs = args.find(_.matches("\\d+")).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_PROBE_RUNS").map(_.toInt)).getOrElse(2)
    val abConf = args.find(_.startsWith("--ab=")).map { a =>
      val kv = a.stripPrefix("--ab=")
      val i = kv.indexOf('=')
      (kv.take(i), kv.drop(i + 1))
    }
    val qargs = args.filterNot(a => a.matches("\\d+") || a.startsWith("--ab=")).toSeq
    val names = if (qargs.nonEmpty) qargs else Seq("q_streaming_join_w")
    val spark = graft.Session.local(graft.Session.cpus())
    val phases: Seq[(String, Boolean)] = abConf match {
      case Some(_) => Seq(("A", false), ("B", true))
      case None => Seq(("", false))
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      phases.foreach { case (label, useB) =>
        abConf.foreach { case (k, v) =>
          if (useB) spark.conf.set(k, v) else spark.conf.unset(k)
        }
        (1 to runs).foreach { i =>
          RuleExecutor.resetMetrics()
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[probe] $name$label run=$i total=$dt%.2fs")
          if (i == runs && abConf.isEmpty) {
            // rule-level attribution of the LAST (JIT-warm) run only
            println(s"[probe-rules] $name\n" + RuleExecutor.dumpTimeSpent())
          }
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        }
      }
      abConf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    spark.stop()
  }
}
