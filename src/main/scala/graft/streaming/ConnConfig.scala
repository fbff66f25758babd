package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Environment-driven source/sink configuration, mirroring the reference's
  * per-node `STRIOT_INGRESS_TYPE`/`STRIOT_EGRESS_TYPE` + per-transport
  * host/port/topic envs (`src/Striot/Nodes/Types.hs:57-116`): a deployment
  * selects TCP(socket)/Kafka at launch without code changes. MQTT is not a
  * built-in Spark source; it is accepted and reported as unsupported
  * (parity note — the reference supports QoS0 MQTT, `Nodes/MQTT.hs`). */
object ConnConfig {

  final case class Conn(kind: String, host: String, port: Int, topic: String)

  private def read(env: Map[String, String], side: String): Conn = Conn(
    kind = env.getOrElse(s"GRAFT_${side}_TYPE", "socket").toLowerCase,
    host = env.getOrElse(s"GRAFT_${side}_HOST", "localhost"),
    port = graft.core.Knobs.int(s"GRAFT_${side}_PORT", default = 9001, min = 0, env),
    topic = env.getOrElse(s"GRAFT_${side}_TOPIC", "graft"))

  def ingress(env: Map[String, String] = sys.env): Conn = read(env, "INGRESS")
  def egress(env: Map[String, String] = sys.env): Conn = read(env, "EGRESS")

  /** Open the configured streaming source. */
  def openSource(spark: SparkSession, c: Conn): DataFrame = c.kind match {
    case "socket" => StreamingOps.socketSource(spark, c.host, c.port)
    case "kafka"  => StreamingOps.kafkaSource(spark, s"${c.host}:${c.port}", c.topic)
    case "rate"   => StreamingOps.rateSource(spark, c.port) // port reused as rate
    case "mqtt" => throw new UnsupportedOperationException(
      "MQTT has no built-in Spark source; bridge via Kafka or a custom connector")
    case other => throw new IllegalArgumentException(s"unknown ingress type: $other")
  }

  /** Attach the configured streaming sink writer (caller `.start()`s it).
    * MQTT is a deliberate non-goal (decided, not implicit): Spark ships no
    * MQTT connector and the reference's QoS0 usage (`Nodes/MQTT.hs:29-86`)
    * is covered operationally by a Kafka bridge — both directions report a
    * directed error naming that path. */
  def openSink(df: DataFrame, c: Conn, checkpointDir: String) = c.kind match {
    case "kafka"   => StreamingOps.kafkaSink(df, s"${c.host}:${c.port}", c.topic, checkpointDir)
    case "memory"  => df.writeStream.format("memory").queryName(c.topic)
    case "console" => df.writeStream.format("console")
    // "socket" is the (reference-style) DEFAULT kind, but Spark ships no
    // socket sink — give the default config a directed error naming the
    // working egress kinds instead of an "unknown type" dead end
    case "socket" => throw new UnsupportedOperationException(
      "Spark has no socket sink; set GRAFT_EGRESS_TYPE to kafka, memory, or " +
        "console (socket is ingest-only)")
    case "mqtt" => throw new UnsupportedOperationException(
      "MQTT has no built-in Spark sink; bridge via Kafka or a custom connector")
    case other => throw new IllegalArgumentException(s"unknown egress type: $other")
  }
}
