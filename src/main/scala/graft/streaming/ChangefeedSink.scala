package graft.streaming

import graft.config.{GraftConfig, RouteConf}
import graft.core.Types
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** MQ changefeed-out sink (K11-K13): the reference publishes one JSON
  * message per change event to Kafka/RocketMQ/RabbitMQ
  * (reference: service/endpoint/kafka.go:205-230, rocket.go:232-260,
  * rabbit.go:194-223). Here the stream decodes and shapes the (key, value)
  * message — keyed by row key, fixing the reference's random partitioner
  * (kafka.go:51) so per-key order survives. It runs as a one-changefeed-route
  * config on the engine's batch loop, so it writes the config feed's
  * `epoch=N` layout (swap the writer for `kafka` on a cluster with brokers;
  * the message shape is identical).
  */
object ChangefeedSink {

  def start(spark: SparkSession, cfg: CdcPipeline.Config, outDir: String,
      keyCols: Seq[String] = Types.transcriptKey,
      reserveRawData: Boolean = false,
      availableNow: Boolean = false): StreamingQuery = {
    val feed = GraftConfig(cfg.changelogDir, cfg.checkpointDir, routes = Seq(
      RouteConf("changefeed", target = "changefeed", outDir = outDir,
        keyColumns = keyCols, reserveRawData = reserveRawData)))
    CdcPipeline.run(spark, ConfigPipeline.plan(ConfigPipeline.build(spark, feed), feed),
      cfg, availableNow)
  }

  def runToCompletion(spark: SparkSession, cfg: CdcPipeline.Config, outDir: String,
      keyCols: Seq[String] = Types.transcriptKey,
      reserveRawData: Boolean = false): Unit =
    start(spark, cfg, outDir, keyCols, reserveRawData, availableNow = true)
      .awaitTermination()

  def read(spark: SparkSession, outDir: String): DataFrame =
    ConfigPipeline.readFeed(spark, outDir)
}
