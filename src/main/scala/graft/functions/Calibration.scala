package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Sensor calibration / unit / humidity scalar library.
  *
  * Reference semantics:
  *  - Taylor/polynomial apply `Σ aᵢ·xⁱ` (`lib/MyARCHIVE.py:267-275`,
  *    `MyDatacollector.py:516-524`); the PM variant clamps to ≥ 0.01.
  *  - Dew point, Magnus/IST-90 (`statistics/grubbs.py:127-135`).
  *  - Joost RH dust correction `pm · a·RH^b` (`statistics/grubbs.py:148-173`,
  *    factors pm25=[3.9,-0.409], pm10=[4.31,-0.47]); NaN when the factor
  *    leaves [0,1] (below the critical RH).
  *  - RIVM SDS011 RH correction `pm · 4.65 · (100−RH)^−0.65`, RH clamped to
  *    [1,99] (`visualisation/ChartsPM.pl:344-360`).
  *  - µg/m³ ↔ ppb gas conversion via `(273.15+T)/12.187 · A/A₀ / GMOL`
  *    (`scripts/AirQualityIndex.py:294-304`).
  *
  * All pure column arithmetic — codegen-friendly, no UDFs.
  */
object Calibration {

  /** Horner-evaluated polynomial `a0 + a1·x + a2·x² + …`. */
  def taylor(x: Column, coeffs: Seq[Double]): Column =
    coeffs.reverse.foldLeft(lit(0.0))((acc, a) => acc * x + a)

  /** Polynomial from coefficient *columns* (calibration dimension join). */
  def taylorCols(x: Column, coeffs: Column*): Column =
    coeffs.zipWithIndex.map { case (a, i) => a * pow(x, i) }.reduce(_ + _)

  /** Taylor with the reference's PM clamp: result floored at 0.01
    * (`lib/MyARCHIVE.py:272-274`). */
  def taylorPm(x: Column, coeffs: Seq[Double]): Column =
    greatest(taylor(x, coeffs), lit(0.01))

  /** Magnus dew point; null outside RH (0,100) (`grubbs.py:127-135`). */
  def dewPoint(tempC: Column, rh: Column): Column = {
    val h = (log(10.0, rh) - 2) / 0.4343 +
      (lit(17.62) * tempC) / (tempC + 243.12)
    when(rh > 0 && rh < 100, lit(243.12) * h / (lit(17.62) - h))
  }

  /** SQL twin of [[dewPoint]] for DuckDB oracles. */
  def dewPointSql(t: String, rh: String): String =
    s"CASE WHEN $rh > 0 AND $rh < 100 THEN 243.12 * ((log10($rh)-2)/0.4343 + (17.62*$t)/($t+243.12)) / (17.62 - ((log10($rh)-2)/0.4343 + (17.62*$t)/($t+243.12))) END"

  /** Joost experimental RH correction (`grubbs.py:148-173`). RH clamped to
    * [0,100]; correction factor outside [0,1] → null (reference yields NaN).
    */
  def joostRh(pm: Column, rh0: Column, a: Double, b: Double): Column = {
    val rh = least(greatest(rh0, lit(0.0)), lit(100.0))
    val f = lit(a) * pow(rh, b)
    when(f.between(0.0, 1.0), pm * f)
  }
  def joostPm25(pm: Column, rh: Column): Column = joostRh(pm, rh, 3.9, -0.409)

  /** RIVM SDS011 humidity correction (`ChartsPM.pl:344-360`). */
  def rivmRhCorrection(pm: Column, rh0: Column): Column = {
    val rh = least(greatest(rh0, lit(1.0)), lit(99.0))
    pm * lit(4.65) * pow(lit(100.0) - rh, -0.65)
  }

  /** Gram molecular weights used by the gas conversions
    * (`scripts/AirQualityIndex.py` GMOL table). */
  val Gmol: Map[String, Double] = Map(
    "co" -> 28.011, "co2" -> 44.0095, "no" -> 30.006, "no2" -> 46.0055,
    "o3" -> 47.998, "so2" -> 64.0638, "nh3" -> 17.03052, "benzeen" -> 78.11184)

  /** µg/m³ → ppb for a gas at temp °C and pressure mBar (A₀=1013.25). */
  def ugm3ToPpb(v: Column, gas: String, tempC: Column, mBar: Column): Column =
    v * ((lit(273.15) + tempC) / 12.187) * (mBar / 1013.25) / Gmol(gas)

  /** Pa → hPa ([0, 0.01] Taylor, `lib/MyARCHIVE.py:277-283`). */
  def paToHPa(v: Column): Column = v * 0.01
  /** hPa → Pa (Community API, `lib/MyCOMMUNITY.py:700`). */
  def hPaToPa(v: Column): Column = v * 100.0

  /** The collector's pre-epoch-1515547638 +1 h timezone repair
    * (`visualisation/ChartsPM.pl:622-630`): stored datum was one hour off
    * before the fix was deployed. */
  def tzRepair(epochS: Column): Column =
    when(epochS <= 1515547638L, epochS + 3600L).otherwise(epochS)
}
