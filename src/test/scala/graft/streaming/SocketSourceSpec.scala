package graft.streaming

import java.io.PrintWriter
import java.net.{InetAddress, ServerSocket}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.core.TempDirs

/** [[StreamingOps.socketSource]] over an in-test TCP server: each
  * micro-batch is one partition, and every line sent arrives once. */
class SocketSourceSpec extends SparkSuite {

  test("every micro-batch is one partition, and every line arrives exactly once") {
    val lines = (0 until 200).map(i => s"line-$i")
    val parts = new ConcurrentLinkedQueue[Int]()
    val got = new ConcurrentLinkedQueue[String]()
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    server.setSoTimeout(60000)
    try {
      val q = StreamingOps.socketSource(spark, "127.0.0.1", server.getLocalPort).writeStream
        .option("checkpointLocation", TempDirs.create("graft_socket_ckpt_").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          parts.add(b.rdd.getNumPartitions)
          b.select("value").collect().foreach(r => got.add(r.getString(0)))
        }
        .start()
      try {
        val conn = server.accept()
        try {
          val out = new PrintWriter(conn.getOutputStream, true)
          // four chunks, each sent once the previous one has reached the
          // sink, so the lines span several micro-batches
          var sent = 0
          lines.grouped(50).foreach { chunk =>
            chunk.foreach(out.println)
            sent += chunk.size
            val deadline = System.nanoTime() + 60000000000L
            while (got.size < sent) {
              q.exception.foreach(e => throw e)
              assert(System.nanoTime() < deadline, s"${got.size} of $sent lines arrived within 60 s")
              Thread.sleep(10)
            }
          }
        } finally conn.close()
      } finally q.stop()
    } finally server.close()
    assert(parts.size >= 4)
    assert(parts.asScala.toSet == Set(1))
    assert(got.asScala.toSeq.sorted == lines.sorted)
  }
}
