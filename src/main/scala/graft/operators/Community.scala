package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Calibration

/** Sensors.Community forwarding projection — SURVEY §2.1 K2 (the
  * semantic half; transport is the pluggable side of
  * [[graft.streaming.Forwarding]]).
  *
  * The reference posts each kit's readings to the Community API as one
  * HTTP POST per sensor, keyed by an `X-Pin` header, with field names
  * translated to the API nomenclature and (for dust sensors) values
  * re-calibrated toward the network's reference sensor type
  * (lib/MyCOMMUNITY.py:441-705):
  *
  *   - `sense_table` (`:559-601`) maps sensor type → pin per category
  *     (BME280→11, DHT22/HTU21D/SHT31→7, SPS30/SDS011/PMS*→1, …) and
  *     local field names → API names (pm25→P2, pm10→P1, rv→humidity, …).
  *   - PMS-family dust readings carry a Taylor correction toward the
  *     SPS30/SDS011 reference (`:583-588`); calibrated dust values are
  *     clamped to 0.01 when ≤ 0 (`Taylor(..., positive=True)`, `:662`).
  *   - API unit fixes (`:704-705`): pressure hPa → Pa as `int(v*100)`
  *     (truncation), everything else rounded to 2 decimals.
  *   - Fields with no API translation (e.g. `grain`) are dropped
  *     (`:699 continue`).
  *
  * Spark shape: the whole table is a ~30-row broadcast dimension joined
  * on (sensor_type, field); calibration, clamp, unit fix are codegen'd
  * column expressions. One shuffle-free projection per reading at any
  * scale. [[dimSql]] renders the same literals as a DuckDB VALUES CTE so
  * the q63 oracle shares the constants (Double.toString round-trips).
  */
object Community {

  /** One dimension row: local (sensor_type, field) → API (pin,
    * value_type) plus optional Taylor (a0, a1). */
  final case class DimRow(sensorType: String, field: String, category: String,
                          pin: Int, valueType: String,
                          a0: Double, a1: Double, hasCal: Boolean)

  private val meteoPins = Seq(
    "BME280" -> 11, "BMP280" -> 3, "DHT22" -> 7, "HTU21D" -> 7,
    "SHT31" -> 7, "DS18B20" -> 13)
  private val dustPins = Seq(
    "SPS30" -> 1, "SDS011" -> 1, "HPM" -> 25, "PPD42NS" -> 5, "SHINEY" -> 5,
    "PMSX003" -> 1, "PMS5003" -> 1, "PMS6003" -> 1, "PMS7003" -> 1)

  /** API name ← local aliases (`translate`, MyCOMMUNITY.py:565-600). */
  private val meteoTranslate = Seq(
    "temperature" -> Seq("temperature", "temp", "dtemp"),
    "humidity" -> Seq("humidity", "hum", "rv", "rh"),
    "pressure" -> Seq("pres", "pressure", "luchtdruk"))
  private val dustTranslate = Seq(
    // Each alias set also contains the API name itself (reference sets).
    // Two reference quirks reproduced deliberately (MyCOMMUNITY.py:589-600):
    //  - N05 maps from `pm5_cnt` (the 5 µm count), not `pm05_cnt` — the
    //    reference's own comment labels it "dust count PM0.5" but its set
    //    reads {'pm5_cnt','N05'}; `pm05_cnt` readings therefore drop.
    //  - getCal matches calibration keys by exact (case-folded) field
    //    name, so alias spellings of a calibrated quantity ('pm2.5',
    //    'pm1_atm', …) bypass the PMS Taylor — same as the reference.
    "P0" -> Seq("pm1", "pm1_atm", "P0"), "P1" -> Seq("pm10", "pm10_atm", "P1"),
    "P2" -> Seq("pm2.5", "pm25", "P2"), "N05" -> Seq("pm5_cnt", "N05"),
    "N1" -> Seq("pm1_cnt", "N1"), "N25" -> Seq("pm25_cnt", "N25"),
    "N4" -> Seq("pm4_cnt", "N4"), "N10" -> Seq("pm10_cnt", "N10"))

  /** PMS-family Taylor toward the dust reference (MyCOMMUNITY.py:583-588;
    * "summer Jun-Sep 2020 Vredepeel ca 9.000 samples"). */
  private val pmsCal: Map[String, (Double, Double)] = Map(
    "pm1" -> (1.099, 1 / 1.835), "pm25" -> (1.099, 1 / 1.835),
    "pm10" -> (-2.397, 1 / 1.666))
  private val pmsTypes =
    Set("PMSX003", "PMS5003", "PMS6003", "PMS7003")

  /** The full dimension, deterministic order. */
  val Dim: Seq[DimRow] = {
    def rowsFor(pins: Seq[(String, Int)], translate: Seq[(String, Seq[String])],
                category: String): Seq[DimRow] =
      for {
        (stype, pin) <- pins
        (api, locals) <- translate
        local <- locals
      } yield {
        val cal = if (category == "dust" && pmsTypes(stype)) pmsCal.get(local) else None
        DimRow(stype, local, category, pin, api,
          cal.map(_._1).getOrElse(0.0), cal.map(_._2).getOrElse(1.0), cal.isDefined)
      }
    rowsFor(meteoPins, meteoTranslate, "meteo") ++
      rowsFor(dustPins, dustTranslate, "dust")
  }

  def dimDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Dim.toDF("sensor_type", "field", "category", "pin", "value_type",
      "a0", "a1", "has_cal")
  }

  /** The same dimension as a DuckDB VALUES CTE body (shared literals). */
  def dimSql: String = Dim.map { r =>
    s"('${r.sensorType}','${r.field}','${r.category}',${r.pin}," +
      s"'${r.valueType}',${r.a0},${r.a1},${r.hasCal})"
  }.mkString(",\n    ")

  /** Translate + calibrate + unit-fix one reading frame into API rows
    * (kit, pin, value_type, value). Untranslatable fields drop (inner
    * join). `extra` columns are carried through for row identity. */
  def rows(spark: SparkSession, df: DataFrame, kit: Column,
           sensorType: Column, field: Column, value: Column,
           extra: Seq[(String, Column)] = Nil): DataFrame = {
    val src = df.select(Seq(kit.as("kit"), sensorType.as("sensor_type"),
      field.as("field"), value.as("__v")) ++
      extra.map { case (n, c) => c.as(n) }: _*)
    val joined = src.join(broadcast(dimDf(spark)), Seq("sensor_type", "field"))
    val calibrated = when(col("has_cal"),
      // Taylor + the reference's positive clamp (dust only in the table,
      // but keep the category guard the reference's PM flag implies)
      when(col("category") === "dust" &&
          col("a0") + col("a1") * col("__v") <= 0.0, 0.01)
        .otherwise(col("a0") + col("a1") * col("__v")))
      .otherwise(col("__v"))
    val apiValue = when(col("value_type") === "pressure",
        Calibration.hPaToPa(col("__v")).cast("long").cast("double")) // int(v*100)
      .otherwise(round(calibrated, 2))
    joined.select(Seq(col("kit"), col("pin"), col("value_type"),
      apiValue.as("value")) ++ extra.map(e => col(e._1)): _*)
  }

}
