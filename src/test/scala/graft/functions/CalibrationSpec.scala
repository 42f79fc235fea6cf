package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class CalibrationSpec extends AnyFunSuite {
  private def eval1(c: org.apache.spark.sql.Column): Double =
    TestSpark.spark.range(1).select(c.cast("double")).head.getDouble(0)

  test("taylor: polynomial evaluation a0 + a1*x + a2*x^2") {
    // 1 + 2*3 + 0.5*9 = 11.5
    assert(eval1(Calibration.taylor(lit(3.0), Seq(1.0, 2.0, 0.5))) == 11.5)
    // linear map matches reference SDS011 pm25 coefficients
    assert(math.abs(eval1(Calibration.taylor(lit(10.0), Seq(-2.163, 1.308))) -
      (-2.163 + 1.308 * 10)) < 1e-12)
  }

  test("taylorCols matches taylor for the same coefficients") {
    val viaCols = eval1(Calibration.taylorCols(lit(3.0), lit(1.0), lit(2.0), lit(0.5)))
    assert(viaCols == 11.5)
  }

  test("taylorPm clamps at 0.01") {
    assert(eval1(Calibration.taylorPm(lit(0.0), Seq(-5.0, 1.0))) == 0.01)
  }

  test("dew point: Magnus 20C/50%RH ~ 9.26C; null outside (0,100)") {
    assert(math.abs(eval1(Calibration.dewPoint(lit(20.0), lit(50.0))) - 9.26) < 0.05)
    val row = TestSpark.spark.range(1)
      .select(Calibration.dewPoint(lit(20.0), lit(0.0))).head
    assert(row.isNullAt(0))
  }

  test("RH corrections: monotone damping of PM at high humidity") {
    // Joost: factor a*RH^b in [0,1] required; at RH=80 pm25 factor ~ 3.9*80^-0.409
    val f = 3.9 * math.pow(80, -0.409)
    assert(math.abs(eval1(Calibration.joostPm25(lit(10.0), lit(80.0))) - 10 * f) < 1e-9)
    // below critical RH the factor exceeds 1 -> null (reference NaN)
    assert(TestSpark.spark.range(1)
      .select(Calibration.joostPm25(lit(10.0), lit(5.0))).head.isNullAt(0))
    // RIVM: pm*4.65*(100-RH)^-0.65, RH clamped to [1,99]
    val rivm = 10 * 4.65 * math.pow(100 - 99, -0.65)
    assert(math.abs(eval1(Calibration.rivmRhCorrection(lit(10.0), lit(150.0))) - rivm) < 1e-9)
  }

  test("gas unit conversion: ug/m3 -> ppb -> ug/m3 round-trips") {
    val ppb = Calibration.ugm3ToPpb(lit(40.0), "no2", lit(20.0), lit(1013.25))
    // ppb → µg/m³ at the same 20 °C and 1013.25 mBar
    val back = ppb * Calibration.Gmol("no2") / ((lit(273.15) + 20.0) / 12.187)
    assert(math.abs(eval1(back) - 40.0) < 1e-9)
  }

  test("pressure conversions and tz repair") {
    assert(eval1(Calibration.paToHPa(lit(101325.0))) == 1013.25)
    assert(eval1(Calibration.hPaToPa(lit(1013.25))) == 101325.0)
    assert(eval1(Calibration.tzRepair(lit(1500000000L))) == 1500003600.0)
    assert(eval1(Calibration.tzRepair(lit(1600000000L))) == 1600000000.0)
  }
}
