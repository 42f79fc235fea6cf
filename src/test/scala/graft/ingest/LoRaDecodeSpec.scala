package graft.ingest

import java.nio.file.{Files, Paths}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Golden replay tests: every fixture record with embedded
  * `payload_fields` (produced by the reference's TTN-side JS decoder)
  * must decode to exactly those fields. Fixtures are read from the
  * read-only reference checkout; suites cancel gracefully if it is
  * absent (e.g. packaged CI). */
class LoRaDecodeSpec extends AnyFunSuite {

  private val fixtureDir = "/root/reference/MyDatacollector/inputtests"

  private def fixtureLines(name: String): Seq[String] = {
    val p = Paths.get(fixtureDir, name)
    assume(Files.exists(p), s"reference fixtures not present: $p")
    Files.readAllLines(p).asScala.toSeq.filter(_.contains("payload_fields"))
  }

  /** Minimal JSON digging (fixtures are one-line JSON): extract the
    * payload_raw string and the payload_fields object source. */
  private def extract(line: String): (Int, Array[Byte], Map[String, String]) = {
    val json = line.substring(line.indexOf(' ') + 1)
    def strField(k: String): String = {
      val m = ("\"" + k + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(json)
      m.map(_.group(1)).getOrElse(sys.error(s"no $k in $line"))
    }
    val port = ("\"port\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(json).get.group(1).toInt
    val payload = Base64.getDecoder.decode(strField("payload_raw"))
    // payload_fields: flat object of k: scalar — parse naively.
    val pf = ("\"payload_fields\"\\s*:\\s*\\{(.*?)\\}\\s*,\\s*\"metadata\"").r
      .findFirstMatchIn(json).get.group(1)
    val fields = ("\"([A-Za-z0-9_]+)\"\\s*:\\s*(\"[^\"]*\"|[-0-9.eE]+)").r
      .findAllMatchIn(pf)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\""))
      .toMap
    (port, payload, fields)
  }

  private def checkFlatGoldens(file: String): Unit = {
    val lines = fixtureLines(file)
    assert(lines.nonEmpty)
    // meta (port 3) records inside measurement fixtures are covered by
    // the dedicated P3 test
    lines.map(extract).filter(_._1 != 3).foreach { case (port, payload, golden) =>
      val decoded = LoRaDecode.decodeFlat(payload, port)
      val goldenNums = golden.collect {
        case (k, v) if k != "TTNversion" && scala.util.Try(v.toDouble).isSuccess =>
          k -> v.toDouble
      }
      goldenNums.foreach { case (k, v) =>
        assert(decoded.contains(k), s"$file port $port: missing $k (got $decoded)")
        assert(decoded(k) == v, s"$file port $port $k: got ${decoded(k)} want $v")
      }
      assert(decoded.keySet == goldenNums.keySet,
        s"$file port $port: extra fields ${decoded.keySet -- goldenNums.keySet}")
    }
  }

  test("port 2 fixtures decode to embedded payload_fields")(checkFlatGoldens("inputtestP2.mqtt"))
  test("port 4 fixtures decode to embedded payload_fields")(checkFlatGoldens("inputtestP4.mqtt"))

  test("port 3 meta fixtures decode to embedded payload_fields") {
    fixtureLines("inputtestP3.mqtt").foreach { line =>
      val (port, payload, golden) = extract(line)
      assert(port == 3)
      val meta = LoRaDecode.decodeMeta(payload)
      golden.foreach {
        case ("dust", v) => assert(meta.tags("dust") == v)
        case ("meteo", v) => assert(meta.tags("meteo") == v)
        case (k, v) if scala.util.Try(v.toDouble).isSuccess =>
          assert(meta.nums(k) == v.toDouble, s"meta $k: got ${meta.nums.get(k)} want $v")
        case _ =>
      }
    }
  }

  test("TTNMQTTexample MySense records (port 2, 0x80-typed) decode to goldens") {
    val p = Paths.get("/root/reference/testdata/TTNMQTTexample.json")
    assume(Files.exists(p))
    val lines = Files.readAllLines(p).asScala.toSeq
      .filter(l => l.contains("payload_fields") && l.contains("\"port\":2"))
      // Only MySense-node payloads (leading type byte 0x80 set) — the
      // other apps in this dump (pmsensors, temp nodes) used their own
      // TTN decoders whose layouts are not part of MySense.
      .filter { l =>
        val (_, payload, _) = extract(l)
        (payload(0) & 0x80) != 0
      }
    lines.foreach { line =>
      val (port, payload, golden) = extract(line)
      val decoded = LoRaDecode.decodeFlat(payload, port)
      golden.foreach { case (k, v) =>
        if (k != "TTNversion" && scala.util.Try(v.toDouble).isSuccess)
          assert(decoded(k) == v.toDouble, s"$k: got ${decoded.get(k)} want $v")
      }
    }
  }

  test("meta decode is total on unknown sensor-type bytes") {
    // dust bits 7 and meteo nibble >= 6 are outside both type tables —
    // must yield "unknown", not throw (one bad telegram, one dead task).
    for (b1 <- Seq(0x67, 0x07, 0xF7, 0x6F)) {
      val meta = LoRaDecode.decodeMeta(Array(0x02, b1, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0, 0, 0).map(_.toByte))
      assert(meta.tags.get("dust").forall(d => LoRaDecode.dustTypes.contains(d) || d == "unknown"))
      assert(meta.tags("meteo") == "unknown" ||
        LoRaDecode.meteoTypes.contains(meta.tags("meteo")))
    }
    val m7 = LoRaDecode.decodeMeta(Array(0x02, 0x67, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0, 0, 0).map(_.toByte))
    assert(m7.tags("dust") == "unknown" && m7.tags("meteo") == "unknown")
  }

  test("D7 event extraction: meta event round trip + HasEvent name table") {
    import org.apache.spark.sql.functions._
    val spark = graft.TestSpark.spark
    import spark.implicits._
    // known events 13/14/15 name + notice + artifact; 12/16 drop
    val out = Seq((7L, 13), (8L, 14), (9L, 15), (10L, 12), (11L, 16))
      .toDF("kit", "en")
      .select(col("kit"), LoRaPipeline.decodeMetaEvent(
          LoRaPipeline.encodeMetaEvent(lit(21), col("en"))).as("dec"))
      .select(col("kit"), col("dec._1").as("version"), col("dec._2").as("event"),
        LoRaPipeline.extractEvent(concat(lit("k"), col("kit")), col("dec._2")).as("ev"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2),
        r.getStruct(3).getAs[String]("event_name"),
        r.getStruct(3).getAs[String]("artifact"))).toSeq
    assert(out.forall(_._2 == 2.1)) // version byte round trip
    assert(out.map(_._3) == Seq(13, 14, 15, 12, 16)) // event byte round trip
    assert(out.map(_._4) == Seq("Accu level", "Watch Dog", "Controller Reset", null, null))
    assert(out.head._5 == "Raised event: Accu level.")
    val notice = Seq((7L, 13)).toDF("kit", "en")
      .select(LoRaPipeline.extractEvent(concat(lit("k"), col("kit")), col("en"))
        .getField("notice")).as[String].head()
    assert(notice == "Measurement kit with id k7 raised event Accu level, value 13")
  }

  test("port 12 rule codec: encode/decode round-trip incl. NaN sentinels") {
    val readings = Seq(
      1 -> Seq(Some(17.1), Some(69.0), Some(1030.0)),      // BME280
      21 -> Seq(Some(0.0), Some(0.0)),                     // Argent
      19 -> Seq(Some(5.123456), Some(61.123456), None))    // NEO-6, alt NaN
    val bytes = LoRaDecode.RuleCodec.encode(0.0, readings)
    val (ver, data, tags) = LoRaDecode.RuleCodec.decode(bytes)
    assert(ver == 0.0)
    assert(data("BME280") == Map("temp" -> Some(17.1), "rv" -> Some(69.0),
      "luchtdruk" -> Some(1030.0)))
    assert(data("Argent") == Map("wr" -> Some(0.0), "ws" -> Some(0.0)))
    // lat/lon collapse into a precision-11 geohash tag; alt was NaN.
    assert(data("NEO-6") == Map("alt" -> None))
    assert(tags("NEO-6").length == 11)
    val (lat, lon) = graft.functions.GeoFunctions.geohashDecode(tags("NEO-6"))
    assert(math.abs(lat - 61.123456) < 1e-4 && math.abs(lon - 5.123456) < 1e-4)
  }

  test("port 10 Libelium fixture decodes to the reference decoder's golden") {
    // Golden generated by running the reference decoder itself on the
    // fixture (python3: lib/MyLoRaCode.py LoRaCoding().DecodePort10or12(
    // payload_raw, port=10) — geohash import stubbed; Libelium has no
    // lat/lon fields so it is never called):
    //   {"energy": {"accu": 96.0},
    //    "BME280": {"temp": -0.1, "rv": 100.0, "luchtdruk": 1017},
    //    "WASPrain": {"rain": 0.0, "prevrain": 0.0, "dayrain": (0.6, "mm/24h")},
    //    "WASPwind": {"wr": 32, "ws": 4.8},
    //    "L-type": 6, "L-serial": 17284313734798935887}
    val p = Paths.get(fixtureDir, "inputtestP10.mqtt")
    assume(Files.exists(p), s"reference fixtures not present: $p")
    val line = Files.readAllLines(p).asScala.head
    val json = line.substring(line.indexOf(' ') + 1)
    assert("\"port\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json).get.group(1).toInt == 10)
    val payload = Base64.getDecoder.decode(
      "\"payload_raw\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json).get.group(1))

    val (hdr, data, units) = LoRaDecode.LibeliumCodec.decode(payload)
    assert(hdr.waspType == 6 && hdr.serial == "17284313734798935887")
    assert(hdr.nodeId == "node_01" && hdr.seq == 213)
    assert(data("energy") == Map("accu" -> Some(96.0)))
    assert(data("BME280") == Map("temp" -> Some(-0.1), "rv" -> Some(100.0),
      "luchtdruk" -> Some(1017.0)))
    assert(data("WASPrain") == Map("rain" -> Some(0.0), "prevrain" -> Some(0.0),
      "dayrain" -> Some(0.6)))
    assert(data("WASPwind") == Map("wr" -> Some(32.0), "ws" -> Some(4.8)))
    // non-default unit (mm/24h) survives; default units ('%','C',…) elided
    assert(units == Map("WASPrain.dayrain" -> "mm/24h"))
  }

  test("Libelium codec: radio-truncated value bytes abort with the partial record") {
    val hdr = Array[Byte]('<', '=', '>', 6, 0, 1, 0, 0, 0, 0, 0, 0, 0, 'n', '#', 7)
    val payload = hdr ++
      Array[Byte](52.toByte, 0x60) ++        // accu = 96 (complete)
      Array[Byte](74.toByte, 0x11, 0x22)     // temp: only 2 of 4 float bytes
    val (_, data, _) = LoRaDecode.LibeliumCodec.decode(payload)
    assert(data == Map("energy" -> Map("accu" -> Some(96.0))),
      "truncated field must not throw; complete prefix survives")
  }

  test("Libelium codec: NaN sentinels, unknown id aborts with partial record") {
    // header: <=> type=6 size=0 serial=1(LE) "n#" seq=7
    val hdr = Array[Byte]('<', '=', '>', 6, 0, 1, 0, 0, 0, 0, 0, 0, 0, 'n', '#', 7)
    val nanF = Array[Byte](0, 0, -64, 127) // 0x7fc00000 LE = float NaN
    val payload = hdr ++
      Array[Byte](52.toByte, 0xff.toByte) ++            // accu NaN sentinel (B)
      (Array(74.toByte) ++ nanF) ++                     // temp float NaN
      Array[Byte](99.toByte, 1, 2, 3)                   // unknown id → abort
    val (h, data, _) = LoRaDecode.LibeliumCodec.decode(payload)
    assert(h.serial == "1" && h.nodeId == "n" && h.seq == 7)
    assert(data == Map("energy" -> Map("accu" -> None),
      "BME280" -> Map("temp" -> None)))
  }

  test("negative temperature survives the signed-short rule path") {
    val bytes = LoRaDecode.RuleCodec.encode(1.2, Seq(3 -> Seq(Some(-7.5), Some(55.0))))
    val (ver, data, _) = LoRaDecode.RuleCodec.decode(bytes)
    assert(ver == 1.2)
    assert(data("SHT31")("temp") == Some(-7.5) || data("SHT31")("temp") == Some(-7.4))
  }

  test("TTN envelope parse: V2 fixture lines yield ids, payload, best gateway") {
    val spark = TestSpark.spark
    val p = Paths.get(fixtureDir, "inputtestP4.mqtt")
    assume(Files.exists(p))
    val df = spark.read.text(p.toString)
    val rows = TtnEnvelope.parseBest(df, col("value")).collect()
    assert(rows.length >= 2)
    val r = rows.head
    assert(r.getAs[String]("app_id") == "201802215971az")
    assert(r.getAs[Int]("port") == 4)
    assert(r.getAs[Array[Byte]]("payload").nonEmpty)
    assert(r.getAs[String]("best_gateway") != null)
    // single-gateway record: best score == 10*snr + 0.2*rssi of that gw,
    // read from the reference parse's gateway array
    val gws = TtnEnvelope.parseJackson(df, col("value")).head()
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("gateways")
    if (gws.length == 1)
      assert(math.abs(r.getAs[Double]("best_score") -
        (gws.head.getAs[Double]("snr") * 10 + gws.head.getAs[Double]("rssi") * 0.2)) < 0.01)
  }

  test("TTN envelope parse: V3 shape") {
    val spark = TestSpark.spark
    import spark.implicits._
    val v3 = """v3/app1@ttn/devices/dev1/up {"end_device_ids":{"device_id":"dev1","application_ids":{"application_id":"app1"}},"received_at":"2021-08-20T12:00:00Z","uplink_message":{"f_port":12,"f_cnt":7,"frm_payload":"AAEAqwKyBAY=","rx_metadata":[{"gateway_ids":{"gateway_id":"gw1"},"rssi":-100,"snr":5.5}]}}"""
    val env = TtnEnvelope.parseBest(Seq(v3).toDF("value"), col("value")).head()
    assert(env.getAs[String]("app_id") == "app1")
    assert(env.getAs[String]("dev_id") == "dev1")
    assert(env.getAs[Int]("port") == 12)
    assert(env.getAs[Long]("counter") == 7L)
    assert(env.getAs[String]("best_gateway") == "gw1")
  }
}
