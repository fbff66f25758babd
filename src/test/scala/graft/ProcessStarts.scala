package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Child processes the JVM starts. Without native Hadoop, the local
  * FileSystem forks `chmod` or `ls -ld` for permission work; specs use this
  * to show a path stays fork-free. */
object ProcessStarts {

  /** Whether a frame is Spark's clean-up of a collected session's artifact
    * directory (`ArtifactManager$.cleanUpGlobalResources`, private, so its
    * name is mangled). It runs on the JDK Cleaner thread whenever a GC
    * collects a session clone (every streaming query makes one) and forks
    * an `rm -rf` at a time no spec controls; it is not the work a spec
    * measures. */
  private def isArtifactCleanup(frame: String): Boolean =
    frame.startsWith("org.apache.spark.sql.artifact.ArtifactManager$.") &&
      frame.endsWith("cleanUpGlobalResources")

  /** The stacks (`class.method` frames) of every process the JVM started
    * while `body` ran, from an in-process flight recording, less those
    * whose stack passes through Spark's artifact clean-up
    * ([[isArtifactCleanup]]). */
  def during(body: => Unit): Seq[Seq[String]] = {
    val rec = new Recording()
    val out = Files.createTempFile("graft-procs-", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => Option(e.getStackTrace).fold(Seq.empty[String])(
          _.getFrames.asScala.toSeq.map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")))
        .filterNot(_.exists(isArtifactCleanup))
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }
}
