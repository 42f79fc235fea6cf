package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end ingest integration over the reference's largest replay
  * corpus (132 telegrams): envelope parse (D1) → payload decode (D2) →
  * long-row flatten (D3) — the batch shape of SURVEY §3.1, identical
  * code to the streaming path (the file source swaps in). */
class IngestPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val stress = "/root/reference/MyDatacollector/inputtests/stressTestData.mqtt"

  test("stress corpus: parse → decode → flatten yields long measurement rows") {
    assume(Files.exists(Paths.get(stress)))
    import spark.implicits._

    val env = TtnEnvelope.parseBest(spark.read.text(stress), col("value"))
    val n = env.count()
    assert(n >= 100, s"expected >=100 telegrams, got $n")
    // Every record resolves ids and a payload.
    assert(env.where(col("dev_id").isNull || col("payload").isNull).count() == 0)

    // D2+D3: decode measurement ports (2/4) with the flat decoder and
    // explode the field map into long rows.
    val decodeUdf = udf((payload: Array[Byte], port: Int) =>
      if (port == 2 || port == 4)
        scala.util.Try(LoRaDecode.decodeFlat(payload, port))
          .getOrElse(Map.empty[String, Double])
      else Map.empty[String, Double])
    val long = env
      .withColumn("fields", decodeUdf(col("payload"), col("port")))
      .select(col("app_id"), col("dev_id"), col("event_time"),
        col("best_gateway"), explode(col("fields")).as(Seq("field", "value")))
    val rows = long.count()
    assert(rows > n, s"long rows ($rows) should exceed telegrams ($n)")
    // Known fields dominate; nothing decodes to NaN.
    val fields = long.groupBy("field").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fields.keySet.intersect(
      Set("pm25", "pm10", "temperature", "humidity", "pressure")).nonEmpty)
    assert(long.where(col("value").isNaN).count() == 0)
    // Gateway selection produced a best gateway wherever gateways exist.
    assert(env.where(col("n_gateways") > 0 && col("best_gateway").isNull)
      .count() == 0)
  }

  test("socket transport feeds the identical parse pipeline (S1 live swap)") {
    // The MQTT subscribe source is a transport swap: the same
    // TtnEnvelope.parseBest projection runs over any line stream. Spark's
    // built-in socket source IS such a live transport (localhost only —
    // zero egress), so this proves the swap with real streaming I/O
    // rather than file replay.
    assume(Files.exists(Paths.get(stress)))
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(Paths.get(stress))).asScala.take(5).toSeq

    // bind and connect must use the SAME address literal — 'localhost'
    // can resolve to ::1 while getLoopbackAddress returns 127.0.0.1
    val loopback = java.net.InetAddress.getLoopbackAddress
    val server = new java.net.ServerSocket(0, 1, loopback)
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        lines.foreach(out.println)
        out.flush()
        Thread.sleep(5000) // keep the connection up while the query drains
        sock.close()
      } catch { case _: Exception => () } finally
        scala.util.Try(server.close())
    })
    feeder.setDaemon(true)
    feeder.start()

    val stream = graft.streaming.Transport.lines(spark,
      graft.streaming.Transport.Socket(loopback.getHostAddress, server.getLocalPort))
    val q = TtnEnvelope.parseBest(stream, col("value"))
      .select("app_id", "dev_id", "port", "payload")
      .writeStream.format("memory").queryName("socket_env")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("socket_env").count() < lines.size &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      val got = spark.table("socket_env").collect()
      assert(got.length == lines.size,
        s"expected ${lines.size} parsed telegrams, got ${got.length}")
      assert(got.forall(r => !r.isNullAt(1) && !r.isNullAt(3)),
        "every socket telegram resolves dev_id and payload")
    } finally q.stop()
  }
}
