package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CommunitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(rows: Seq[(String, String, String, Double)]) =
    Community.rows(spark, rows.toDF("kit", "stype", "field", "v"),
        col("kit"), col("stype"), col("field"), col("v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getDouble(3))).toSet

  test("pin mapping + field translation follow the sense_table") {
    val out = run(Seq(
      ("k1", "BME280", "temp", 21.117),   // meteo pin 11, temp→temperature
      ("k1", "SHT31", "rv", 55.0),        // meteo pin 7, rv→humidity
      ("k1", "SDS011", "pm25", 12.3),     // dust pin 1, pm25→P2, no cal
      ("k1", "HPM", "pm10", 30.0),        // dust pin 25, no cal
      ("k1", "SDS011", "grain", 0.4)))    // untranslatable → dropped
    assert(out == Set(
      ("k1", 11, "temperature", 21.12),   // round 2 (reference API rule)
      ("k1", 7, "humidity", 55.0),
      ("k1", 1, "P2", 12.3),
      ("k1", 25, "P1", 30.0)))
  }

  test("PMS family calibrates toward the dust reference, clamped positive") {
    val out = run(Seq(
      ("k", "PMS7003", "pm25", 18.35),    // 1.099 + 18.35/1.835 = 11.099
      ("k", "PMS7003", "pm10", 1.0)))     // -2.397 + 1/1.666 < 0 → 0.01
    assert(out == Set(
      ("k", 1, "P2", 11.1),               // round(11.099, 2)... = 11.1
      ("k", 1, "P1", 0.01)))
  }

  test("pressure converts hPa → Pa by truncation (int(v*100))") {
    val out = run(Seq(("k", "BME280", "luchtdruk", 1017.369)))
    assert(out == Set(("k", 11, "pressure", 101736.0)))
  }
}
