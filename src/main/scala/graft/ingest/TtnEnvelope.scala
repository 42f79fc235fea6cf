package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TTN MQTT envelope import — SURVEY §2.3 D1 (reference:
  * lib/MyMQTTclient.py:312-418 RecordImport): one text line per telegram
  * (`topic JSON`), V2 (`payload_raw`) and V3
  * (`uplink_message.frm_payload`) auto-detected, gateways extracted with
  * best-gateway selection (D5, MyDatacollector.py:1466-1553: score
  * `10·snr + 0.2·rssi`, argmax).
  *
  * One parse covers both envelope versions, exactly like the reference's
  * single import path: [[parseBest]] is the engine's path,
  * [[parseJackson]] the permissive `from_json` reference it is tested
  * against (missing branches null out).
  */
object TtnEnvelope {

  val gatewaySchema: StructType = StructType(Seq(
    StructField("gtw_id", StringType), StructField("rssi", DoubleType),
    StructField("snr", DoubleType), StructField("latitude", DoubleType),
    StructField("longitude", DoubleType), StructField("altitude", DoubleType)))

  val envelopeSchema: StructType = StructType(Seq(
    // V2
    StructField("app_id", StringType),
    StructField("dev_id", StringType),
    StructField("port", IntegerType),
    StructField("counter", LongType),
    StructField("payload_raw", StringType),
    StructField("metadata", StructType(Seq(
      StructField("time", StringType),
      StructField("gateways", ArrayType(gatewaySchema)),
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType)))),
    // V3
    StructField("end_device_ids", StructType(Seq(
      StructField("device_id", StringType),
      StructField("application_ids", StructType(Seq(
        StructField("application_id", StringType))))))),
    StructField("received_at", StringType),
    StructField("uplink_message", StructType(Seq(
      StructField("f_port", IntegerType),
      StructField("f_cnt", LongType),
      StructField("frm_payload", StringType),
      StructField("rx_metadata", ArrayType(StructType(Seq(
        StructField("gateway_ids", StructType(Seq(
          StructField("gateway_id", StringType)))),
        StructField("rssi", DoubleType),
        StructField("snr", DoubleType))))))))))

  /** Normalized gateway array type of [[parseJackson]]'s `gateways`. */
  private val gwFrameType =
    "array<struct<gtw_id:string,rssi:double,snr:double>>"

  /** Parse raw `topic JSON` lines into the envelope frame: (topic,
    * app_id, dev_id, port, counter, payload bytes, event ISO time,
    * n_gateways, best_gateway, best_score). Works on a batch or
    * streaming text DataFrame alike.
    *
    * The decode is `ttn_parse_best` ([[graft.plans.TtnParseBest]]
    * over [[TtnFastJson]]), a native single-pass byte-level parser in
    * place of `from_json(envelopeSchema)` + coalesce/arrays_zip
    * navigation: the DiagQ76 sf1 stage breakdown priced the Jackson stage
    * at ~9.6 s over 10 M envelopes EVEN with the parse schema pruned to
    * one field (generic tokenization dominates, not schema width). The
    * gateway array is reduced INSIDE the parse (r12, VERDICT r11 item 2)
    * — the element count and the D5 argmax are streamed per element, so
    * the per-row `array<struct>` never materializes. `n_gateways` is
    * null for a null or absent gateway array; parity with
    * [[parseJackson]] is differential-fuzzed in TtnFastJsonSpec. */
  def parseBest(lines: DataFrame, lineCol: Column): DataFrame = {
    val topic = substring_index(lineCol, " ", 1)
    val json = lineCol.substr(length(topic) + 2, length(lineCol))
    lines.select(
      topic.as("topic"),
      call_function("ttn_parse_best", json).as("e"))
      .select(
        col("topic"), col("e.app_id").as("app_id"),
        col("e.dev_id").as("dev_id"), col("e.port").as("port"),
        col("e.counter").as("counter"),
        unbase64(col("e.payload_b64")).as("payload"),
        col("e.event_time").as("event_time"),
        col("e.n_gateways").as("n_gateways"),
        col("e.best_gtw_id").as("best_gateway"),
        round(col("e.best_score"), 2).as("best_score"))
  }

  /** The `from_json` + struct-navigation composition — the reference
    * semantics [[parseBest]] must match, kept as the differential-fuzz
    * oracle of TtnFastJsonSpec. Returns the full frame: [[parseBest]]'s
    * columns except `n_gateways`, plus the normalized `gateways` array.
    * The best gateway is the HOF argmax
    * `array_max(transform(gws, g -> struct(score, gtw_id)))`, nulls-first
    * (score, gtw_id) ordering. An array whose elements are all null
    * gives `struct(null, null)` here where the native argmax gives null;
    * read out as `best_gateway`/`best_score`, both are nulls. */
  def parseJackson(lines: DataFrame, lineCol: Column): DataFrame = {
    val topic = substring_index(lineCol, " ", 1)
    val json = lineCol.substr(length(topic) + 2, length(lineCol))
    val parsed = lines.select(
      topic.as("topic"),
      from_json(json, envelopeSchema).as("e"))
    val v3 = col("e.uplink_message").isNotNull
    // arrays_zip keeps positions aligned; the cast renames the zipped
    // fields to the normalized (gtw_id, rssi, snr) frame.
    val rx = col("e.uplink_message.rx_metadata")
    val gwsV3 = arrays_zip(
      rx.getField("gateway_ids").getField("gateway_id"),
      rx.getField("rssi"), rx.getField("snr")).cast(gwFrameType)
    val mg = col("e.metadata.gateways")
    val gwsV2 = arrays_zip(
      mg.getField("gtw_id"), mg.getField("rssi"), mg.getField("snr"))
      .cast(gwFrameType)
    val gws = when(v3, gwsV3).otherwise(gwsV2)
    // D5 (MyDatacollector.py:1467-1470 GTWstrength): score 10·snr + 0.2·rssi
    val best = array_max(transform(col("gateways"), g =>
      struct((g.getField("snr") * 10.0 + g.getField("rssi") * 0.2).as("score"),
        g.getField("gtw_id").as("gtw_id"))))
    parsed.select(
      col("topic"),
      coalesce(col("e.end_device_ids.application_ids.application_id"),
        col("e.app_id")).as("app_id"),
      coalesce(col("e.end_device_ids.device_id"), col("e.dev_id")).as("dev_id"),
      coalesce(col("e.uplink_message.f_port"), col("e.port")).as("port"),
      coalesce(col("e.uplink_message.f_cnt"), col("e.counter")).as("counter"),
      unbase64(coalesce(col("e.uplink_message.frm_payload"),
        col("e.payload_raw"))).as("payload"),
      coalesce(col("e.metadata.time"), col("e.received_at")).as("event_time"),
      gws.as("gateways"))
      .withColumn("best", best)
      .withColumn("best_gateway", col("best.gtw_id"))
      .withColumn("best_score", round(col("best.score"), 2))
      .drop("best")
  }
}
