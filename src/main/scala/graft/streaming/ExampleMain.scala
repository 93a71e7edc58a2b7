package graft.streaming

import org.apache.spark.sql.SparkSession

/** Runnable end-to-end wiring demo — boots the full
  * [[RapidApplication.createWired]] assembly (rapid + ping/pong + lifecycle
  * + timers + HTTP probes), sends a ping, prints every message that crossed
  * the rapid (application_up, the enriched pong), then drains through the
  * same preStop path a platform would hit.
  *
  * Run: `tools/run.sh graft.streaming.ExampleMain`
  */
object ExampleMain {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.tune(SparkSession.builder()
      .master("local[4]")
      .appName("graft-example")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    val wired = RapidApplication.createWired(
      spark, appName = "example-app",
      instanceId = java.util.UUID.randomUUID().toString)
    // close() in finally: the probe server's dispatcher is a non-daemon
    // thread, so an exception that skipped close would leave a headless JVM
    try {
      println(s"probe surface: http://127.0.0.1:${wired.health.port}" +
        " (/isalive /isready /metrics /stop)")

      // millisecond-precision UTC timestamp (the envelope's wire format;
      // nanosecond precision would not parse as a ping_time)
      val pingTime = java.time.Instant.ofEpochMilli(System.currentTimeMillis())
        .toString.stripSuffix("Z")
      val ping =
        s"""{"@event_name":"ping","@id":"demo-ping-1","ping_time":"$pingTime"}"""
      wired.send(ping, key = "demo-key")

      val insp = wired.app.rapid.inspector
      (0 until insp.size).foreach { i =>
        println(s"rapid[$i] key=${insp.key(i)} value=${insp.message(i)}")
      }
    } finally {
      wired.close()
      spark.stop()
    }
  }
}
