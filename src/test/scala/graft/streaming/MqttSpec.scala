package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ingest.TtnEnvelope

/** S1 live-subscribe leg over a REAL MQTT 3.1.1 round trip (VERDICT r11
  * item 5): in-process broker ← publisher (fixture telegrams) and
  * broker ← subscriber bridge → socket transport → the identical parse
  * pipeline. The ingested result must equal the batch parse of the same
  * telegram lines — the "archive equals file-replay" parity contract,
  * executed through an actual CONNECT/SUBSCRIBE/PUBLISH exchange
  * instead of a stub. */
class MqttSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("MQTT codec: varint remaining length and +/# topic filters") {
    import Mqtt.Codec._
    // remaining-length round trip across the varint group boundaries
    for (n <- Seq(0, 1, 127, 128, 16383, 16384, 100000)) {
      val bos = new java.io.ByteArrayOutputStream()
      writePacket(new java.io.DataOutputStream(bos), PUBLISH, 0, new Array[Byte](n))
      val p = readPacket(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray)))
      assert(p.ptype == PUBLISH && p.body.length == n)
    }
    assert(topicMatches("v3/+/devices/+/up", "v3/app1/devices/kit7/up"))
    assert(!topicMatches("v3/+/devices/+/up", "v3/app1/devices/kit7/down"))
    assert(!topicMatches("v3/+/devices/+/up", "v3/app1/devices/kit7/up/x"))
    assert(topicMatches("v3/#", "v3/app1/devices/kit7/up"))
    assert(topicMatches("#", "anything/at/all"))
    assert(!topicMatches("v3/+", "v3/a/b"))
    assert(topicMatches("exact/topic", "exact/topic"))
  }

  test("subscriber bridge: each line-server connection replays every line " +
      "in publish order") {
    val broker = new Mqtt.MqttBroker()
    val bridge = new Mqtt.MqttSubscriberBridge(broker.host, broker.port, "kits/#")
    try {
      bridge.awaitSubscribed()
      val n = 50
      val sent = (0 until n).map(i => (s"kits/k${i % 3}", s"""{"i":$i}"""))
      val pub = new Mqtt.MqttPublisher(broker.host, broker.port)
      sent.foreach { case (topic, json) => pub.publish(topic, json) }
      pub.close()
      // one socket-source (re)connect: read n lines, then hang up
      def connectAndRead(): Seq[String] = {
        val s = new java.net.Socket(bridge.lineHost, bridge.linePort)
        try {
          s.setSoTimeout(20000)
          val r = new java.io.BufferedReader(new java.io.InputStreamReader(
            s.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
          Seq.fill(n)(r.readLine())
        } finally s.close()
      }
      val expected = sent.map { case (topic, json) => s"$topic $json" }
      assert(connectAndRead() == expected)
      assert(connectAndRead() == expected)
    } finally {
      bridge.close()
      broker.close()
    }
  }

  test("live MQTT subscribe feeds the parse pipeline; result == batch parse") {
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val fixture = graft.SparkEntry.ttnFixtureLines(events)
      .limit(40).collect().map(_.getString(0)).toSeq
    // the fixture line is `devices/<id> <json>`; publish the json AS the
    // MQTT payload on that topic — the bridge reassembles `topic payload`
    val telegrams = fixture.map { l =>
      val cut = l.indexOf(' ')
      (l.substring(0, cut), l.substring(cut + 1))
    }

    val broker = new Mqtt.MqttBroker()
    val cfg = Transport.Mqtt(broker.host, broker.port, "devices/#")
    try {
      val stream = Transport.lines(spark, cfg) // returns SUBSCRIBED
      val q = TtnEnvelope.parseBest(stream, col("value"))
        .select("topic", "app_id", "dev_id", "port", "counter",
          "n_gateways", "best_gateway", "best_score")
        .writeStream.format("memory").queryName("mqtt_env")
        .outputMode("append").start()
      try {
        val pub = new Mqtt.MqttPublisher(broker.host, broker.port)
        telegrams.foreach { case (topic, json) => pub.publish(topic, json) }
        pub.close()
        val deadline = System.currentTimeMillis() + 60000
        while (spark.table("mqtt_env").count() < telegrams.size &&
          System.currentTimeMillis() < deadline) Thread.sleep(200)

        import spark.implicits._
        val batch = TtnEnvelope.parseBest(
            spark.createDataset(fixture).toDF("line"), col("line"))
          .select("topic", "app_id", "dev_id", "port", "counter",
            "n_gateways", "best_gateway", "best_score")
        val streamed = spark.table("mqtt_env")
        assert(streamed.count() == telegrams.size,
          s"expected ${telegrams.size} telegrams, got ${streamed.count()}")
        // full-row parity with the batch (file-replay) result
        assert(streamed.exceptAll(batch).isEmpty &&
          batch.exceptAll(streamed).isEmpty,
          "MQTT-ingested frame differs from the batch parse")
      } finally q.stop()
    } finally {
      Transport.closeMqtt(cfg)
      broker.close()
    }
  }

  test("K6 live republish: broker-received telegrams equal the q87 " +
      "column, across a real micro-batch boundary") {
    import org.apache.spark.sql.functions._
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .where(col("event_id") < 40)
    val rv = when(col("event_id") % 3 =!= 0, col("event_id") % 100)
    val out = Forwarding.republish("IoS", lit("SAN"),
      concat(lit("d"), col("user_id")),
      struct(lit("SAN").as("project"),
        concat(lit("d"), col("user_id")).as("serial")),
      struct(col("value").as("temp"), rv.as("rv")))
    val pairs = events.select((col("event_id") % 2).cast("int").as("half"),
      out.getField("topic").as("topic"),
      out.getField("telegram").as("telegram"))
    val expected = pairs.select("topic", "telegram").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(expected.size == 40)

    // stage the SAME pairs as TWO parquet files → file stream at
    // maxFilesPerTrigger=1 → at least one real micro-batch boundary
    val root = java.nio.file.Files.createTempDirectory("q87live")
    val inDir = java.nio.file.Files.createDirectories(root.resolve("in"))
    Seq(0, 1).foreach { h =>
      val stage = root.resolve(s"stage$h").toString
      pairs.where(col("half") === h).select("topic", "telegram")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      val part = try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally ls.close()
      val dest = inDir.resolve(s"b$h.parquet")
      java.nio.file.Files.move(part, dest)
      dest.toFile.setLastModified(1700000000000L + h * 60000L)
    }

    val broker = new Mqtt.MqttBroker()
    val col6 = new Mqtt.MqttCollector(broker.host, broker.port, "IoS/#")
    try {
      col6.awaitSubscribed()
      val stream = spark.readStream
        .schema("topic string, telegram string")
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      val q = stream.writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          Forwarding.republishViaMqtt(b, broker.host, broker.port))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()

      val got = col6.take(expected.size, 30000)
      // multiset equality: per-partition publishers make cross-partition
      // arrival order unspecified, content must match exactly
      assert(got.size == expected.size,
        s"broker received ${got.size} of ${expected.size} telegrams")
      assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
        expected.groupBy(identity).view.mapValues(_.size).toMap,
        "broker-received (topic, telegram) multiset differs from q87")
    } finally {
      col6.close()
      broker.close()
    }
  }
}
