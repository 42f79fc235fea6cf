package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.GeoFunctions

class GeohashExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("native expressions register and run inside whole-stage codegen") {
    import spark.implicits._
    val df = Seq((57.64911, 10.40744), (51.42083, 6.13541), (-33.8, 151.2))
      .toDF("lat", "lon")
      .selectExpr("lat", "lon", "geohash_encode(lat, lon, 11) AS gh")
      .selectExpr("lat", "lon", "gh",
        "geohash_decode_lat(gh) AS lat2", "geohash_decode_lon(gh) AS lon2")
    val rows = df.collect()
    rows.foreach { r =>
      // canonical example: geohash.org's u4pruydqqvj
      assert(r.getAs[String]("gh").length == 11)
      assert(math.abs(r.getAs[Double]("lat") - r.getAs[Double]("lat2")) < 1e-4)
      assert(math.abs(r.getAs[Double]("lon") - r.getAs[Double]("lon2")) < 1e-4)
    }
    assert(rows(0).getAs[String]("gh") == "u4pruydqqvj")
    // identical to the JVM-side implementation (same algorithm, one source)
    rows.foreach { r =>
      assert(r.getAs[String]("gh") ==
        GeoFunctions.geohashEncode(r.getAs[Double]("lat"), r.getAs[Double]("lon"), 11))
    }
  }

  test("expressions compile inside whole-stage codegen (non-local source)") {
    // a range source can't be constant-folded into a LocalRelation, so
    // the projection must actually pass through codegen
    val df = spark.range(100).selectExpr(
      "id",
      "geohash_decode_lat(geohash_encode(CAST(id AS DOUBLE)/10, CAST(id AS DOUBLE)/5, 10)) AS lat_rt")
    val rows = df.collect()
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("lat_rt") - r.getLong(0) / 10.0) < 1e-4)
    }
    // FormattedMode tags whole-stage-codegen operators "[codegen id : n]"
    // (simpleString uses a bare `*(n)` marker).
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("codegen id"), s"no codegen in:\n$plan")
  }

  test("null propagation through the codegen path") {
    import spark.implicits._
    val out = Seq((Some(51.0), Some(6.0)), (None, Some(6.0)))
      .toDF("lat", "lon")
      .selectExpr("geohash_encode(lat, lon, 8) AS gh").collect()
    assert(out(0).getString(0) != null)
    assert(out(1).isNullAt(0))
  }

  test("a new session resolves the native functions without registering them") {
    // a fresh session starts from the builtin registry plus whatever the
    // extension providers inject; nothing registers functions by hand
    val fresh = spark.newSession()
    val df = fresh.range(1).selectExpr(
      "vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d",
      "geohash_encode(57.64911D, 10.40744D, 11) AS gh",
      "ttn_parse_best('{}') AS t")
    val row = df.collect().head
    assert(row.getDouble(0) == 11.0)
    assert(row.getString(1) == "u4pruydqqvj")
    assert(df.schema("t").dataType.isInstanceOf[
      org.apache.spark.sql.types.StructType])
  }
}
