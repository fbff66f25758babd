package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Child processes the JVM starts. Without native Hadoop, the local
  * FileSystem forks `chmod` or `ls -ld` for permission work; specs use this
  * to show a path stays fork-free. */
object ProcessStarts {

  /** The stacks (`class.method` frames) of every process the JVM started
    * while `body` ran, from an in-process flight recording. */
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
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }
}
