package graft

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Waits for Spark's listener bus to catch up. Listeners added with
  * `addSparkListener` share one queue that delivers events in order, so
  * once a marked job's start has reached a listener on it, every event
  * posted before that job has reached all of them. That lets a spec count
  * the jobs a block starts ([[jobsStartedBy]]). */
object ListenerFence {
  private val Prop = "graft.spec.fence"

  /** Whether a job (by its properties) is a fence job: a listener that
    * counts jobs leaves these out. */
  private def isFence(props: Properties): Boolean = Option(props).exists(_.getProperty(Prop) != null)

  /** Returns once every listener event posted so far has been delivered. */
  def await(sc: SparkContext): Unit = {
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isFence(e.properties)) seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Prop, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Prop, null)
      assert(seen.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs, fenced on both sides. */
  def jobsStartedBy(sc: SparkContext)(body: => Unit): Int = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isFence(e.properties)) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      await(sc)
      started.set(0)
      body
      await(sc)
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
