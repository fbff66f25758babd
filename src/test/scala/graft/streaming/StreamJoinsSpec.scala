package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

class StreamJoinsSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private def eventsBatch = graft.queries.Tables.events(spark, sfDir)

  private lazy val replayDir: String = {
    val dir = Files.createTempDirectory("graft-sjoin").toString
    eventsBatch.write.mode("overwrite").parquet(dir)
    dir
  }

  test("stream-stream interval join matches the batch interval join") {
    def side(t: String, prefix: String) =
      spark.readStream.schema(eventsBatch.schema).parquet(replayDir)
        .filter(col("event_type") === t)
        .select(col("ts").as(s"${prefix}_ts"), col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"))
    val joined = StreamJoins.intervalJoin(
      side("click", "l"), side("purchase", "r"),
      "l_ts", "r_ts", "1 hour", windowMs = 30 * 60 * 1000,
      col("l_user") === col("r_user"))
    val q = joined.writeStream.format("memory").queryName("sj_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sj_test").count()
    val b = eventsBatch
    val lb = b.filter(col("event_type") === "click")
      .select(col("ts").as("l_ts"), col("user_id").as("l_user"))
    val rb = b.filter(col("event_type") === "purchase")
      .select(col("ts").as("r_ts"), col("user_id").as("r_user"))
    val expected = lb.join(rb, col("l_user") === col("r_user") &&
      col("r_ts") >= col("l_ts") - expr("INTERVAL 30 MINUTES") &&
      col("r_ts") <= col("l_ts") + expr("INTERVAL 30 MINUTES")).count()
    assert(got == expected)
  }
}
