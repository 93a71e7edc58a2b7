package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Kafka rapid wiring — the production transport (reference: KafkaRapid.kt,
  * Defaults.kt, ConsumerProducerFactory.kt; SURVEY §2.1).
  *
  * The Spark Kafka connector maps 1:1 onto the reference's consumer loop:
  *  - subscribe rapid + extra topics (KafkaRapid.kt:47, Defaults.kt:19,56)
  *  - reset policy latest/earliest (Defaults.kt:20,48) -> startingOffsets
  *  - max.poll.records (Defaults.kt:21,28) -> maxOffsetsPerTrigger
  *  - per-record at-least-once commit (KafkaRapid.kt:146-157) -> checkpointed
  *    micro-batch at-least-once; coarser granularity, compensated by
  *    [[Dedupe.byId]] (documented semantic difference, SURVEY §2.7)
  *  - publish only to the rapid topic (KafkaRapid.kt:72-75), key-sticky
  *    (KeyMessageContext.kt:7-10): carry the incoming key to the sink select
  *  - producer ordering acks=all (AivenConfig.kt:37-39) -> kafka.acks=all
  *  - opaque security/client config (AivenConfig.kt:35-65 SSL base config;
  *    Config.producerConfig/consumerConfig merge arbitrary Properties) ->
  *    [[KafkaRapidConfig.kafkaOptions]], forwarded verbatim to both the
  *    source and the sink with the connector's `kafka.` client prefix
  *
  * The option maps are built by pure functions ([[KafkaRapidConfig.sourceOptions]]
  * / [[KafkaRapidConfig.sinkOptions]]) so the full mapping is unit-testable
  * without a broker; [[KafkaRapid.stream]]/[[KafkaRapid.publish]] apply them
  * unchanged. Requires spark-sql-kafka on the classpath (not bundled in this
  * container, so execution is untestable here; MemoryRapid is the in-process
  * transport used by the test suites).
  */
final case class KafkaRapidConfig(
    bootstrapServers: String,
    rapidTopic: String,
    extraTopics: Seq[String] = Nil,
    resetPolicy: String = "latest", // Defaults.kt:20
    maxOffsetsPerTrigger: Option[Long] = Some(500), // Defaults.kt:21
    /** Must be unique per logical app AND stable across restarts (it IS the
      * consumer-group identity here, the reference's KAFKA_CONSUMER_GROUP_ID),
      * and on durable shared storage: a node-local path (e.g. /tmp) silently
      * loses offsets/exactly-once state across host restarts. Left empty the
      * transport FAILS FAST at wiring time rather than defaulting to a
      * perishable location.
      */
    checkpointLocation: String = "",
    startingOffsetsByTimestamp: Option[String] = None, // Consumer.kt:12-34
    /** Opaque Kafka client options forwarded verbatim to BOTH the source and
      * the sink — the TLS/SASL surface of AivenConfig.kt:35-65 (e.g.
      * `kafka.security.protocol` -> SSL, `kafka.ssl.truststore.location`,
      * `kafka.ssl.keystore.password`) and any client tuning the reference
      * passes through consumer/producer Properties. Keys must carry the
      * connector's `kafka.` prefix (that is how spark-sql-kafka routes them
      * to the underlying client) and may not collide with an option this
      * config already owns — a cluster operator should never silently
      * override the subscribe list or the ordering acks.
      */
    kafkaOptions: Map[String, String] = Map.empty) {

  def resolvedCheckpoint: String = {
    require(checkpointLocation.trim.nonEmpty,
      s"checkpointLocation must be set to a durable path for topic '$rapidTopic' " +
        "(it is the consumer-group identity; a default such as /tmp would silently " +
        "lose offsets across host restarts)")
    checkpointLocation
  }

  /** Every option [[KafkaRapid.stream]] sets on the DataStreamReader.
    * Pure — assertable without a broker or `load()`.
    */
  def sourceOptions: Map[String, String] = {
    val structural = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> (rapidTopic +: extraTopics).mkString(","), // KafkaRapid.kt:47
      "includeHeaders" -> "true") ++ // MessageMetadata.kt:3-9 carries headers
      (startingOffsetsByTimestamp match {
        // offsets-for-time seek, Consumer.kt:30-34
        case Some(ts) => Map("startingOffsetsByTimestamp" -> ts)
        case None     => Map("startingOffsets" -> resetPolicy) // Defaults.kt:20
      }) ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) // Defaults.kt:21
    merged(structural)
  }

  /** Every option [[KafkaRapid.publish]] sets on the DataStreamWriter.
    * Pure apart from the checkpoint fail-fast.
    */
  def sinkOptions: Map[String, String] = {
    val structural = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> rapidTopic, // publish only to the rapid, KafkaRapid.kt:72-75
      "kafka.acks" -> "all", // AivenConfig.kt:37
      // The reference pins per-key ordering with max.in.flight=1 + linger=0
      // (AivenConfig.kt:38-39). Idempotence gives the same no-reorder-on-
      // retry guarantee (it caps in-flight at 5 WITH sequence numbers)
      // without serializing every send — the scalable form of the same
      // contract, and it also de-dupes broker-side on producer retry.
      "kafka.enable.idempotence" -> "true",
      "checkpointLocation" -> resolvedCheckpoint)
    merged(structural)
  }

  /** Options for the per-batch reply write inside the single-query fanout
    * ([[KafkaRapid.run]]): the sink surface minus checkpointLocation — the
    * ONE streaming query's own checkpoint carries the offsets; a batch
    * DataFrameWriter takes no checkpoint.
    */
  def sinkBatchOptions: Map[String, String] = sinkOptions - "checkpointLocation"

  private def merged(structural: Map[String, String]): Map[String, String] = {
    val unprefixed = kafkaOptions.keys.filterNot(_.startsWith("kafka.")).toSeq.sorted
    require(unprefixed.isEmpty,
      s"kafkaOptions keys must use the connector's 'kafka.' client prefix " +
        s"(got: ${unprefixed.mkString(", ")}); structural options " +
        "(subscribe, topic, offsets, checkpoint) are config fields, not pass-through")
    val clashes = kafkaOptions.keySet.intersect(structural.keySet).toSeq.sorted
    require(clashes.isEmpty,
      s"kafkaOptions may not override options this config owns: ${clashes.mkString(", ")}")
    structural ++ kafkaOptions
  }
}

final class KafkaRapid(spark: SparkSession, config: KafkaRapidConfig) {

  /** The subscribed stream with the reference's MessageMetadata columns
    * (MessageMetadata.kt:3-9): key, value, topic, partition, offset, headers.
    */
  def stream: DataFrame =
    spark.readStream
      .format("kafka")
      .options(config.sourceOptions)
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("offset"), col("headers"))
      .filter(col("value").isNotNull) // tombstone filter, KafkaRapid.kt:162-163

  /** Publish a (key, value) stream back onto the rapid topic only. */
  def publish(messages: DataFrame): DataStreamWriter[org.apache.spark.sql.Row] =
    messages
      .select(col("key").cast("binary").as("key"), col("value").cast("binary").as("value"))
      .writeStream
      .format("kafka")
      .options(config.sinkOptions)

  /** Run the whole rapid as ONE streaming query — the reference's read-once
    * listener fanout (RapidsConnection.kt:44-55) in its single-scan Spark
    * form ([[Fanout]]): one topic subscription, one checkpoint, every
    * registered river routed off one persisted micro-batch, each river's
    * replies written back to the rapid topic per batch. An app with R
    * rivers reads the topic ONCE per trigger instead of R times — the scan
    * cost that dominates at a 100 TB topic. Any river's flow throwing fails
    * this query: one dead listener stops the app
    * (RapidIntegrationTest.kt:126-141).
    *
    * Each flow is a plan builder and runs once per query: the first trigger
    * builds and analyzes every river plan, and later triggers bind their
    * batch into that plan ([[Fanout.Registration]]), with fresh seeds for
    * its random expressions such as the `uuid()` of reply `@id`s. Actions
    * inside a flow are unsupported, and analysis-time confs are fixed at
    * query start, as for any streaming query definition.
    */
  def run(regs: Seq[Fanout.Registration]): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .queryName(s"rapid-${config.rapidTopic}")
      .option("checkpointLocation", config.resolvedCheckpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // unioned: one producer write per trigger, all river plans in one
        // job off the shared persisted batch (not R sequential writes)
        Fanout.routeBatchUnioned(batch, regs) { replies =>
          replies
            .select(col("key").cast("binary").as("key"),
              col("value").cast("binary").as("value"))
            .write.format("kafka").options(config.sinkBatchOptions).save()
        }
      }
      .start()
}
