package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ingest.{GatewayEdges, TtnEnvelope}

/** The native best-gateway argmax inside the envelope parse
  * ([[TtnEnvelope.parseBest]], `ttn_parse_best`) must be value-identical
  * to the HOF formulation it replaced —
  * `array_max(transform(gws, g -> struct(score, gtw_id)))` — on every
  * edge the struct-ordering contract defines ([[GatewayEdges]]): null and
  * empty arrays, null elements, null score components, null ids and
  * exact score ties broken by id. Each edge array is parsed as a V2 and
  * as a V3 envelope; the HOF runs on the same array, typed directly. */
class GatewayExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val hof = array_max(transform(col("gws"), g =>
    struct((g.getField("snr") * 10.0 + g.getField("rssi") * 0.2).as("score"),
      g.getField("gtw_id").as("gtw_id"))))

  /** One row per edge case and envelope version: parseBest's winner
    * fields beside the HOF struct over the typed edge array. */
  private def frame(): DataFrame = {
    import spark.implicits._
    val typed = GatewayEdges.edges
      .map { case (name, arr) => (name, arr.map(_.map(_.orNull)).orNull) }
      .toDF("edge", "raw")
      .withColumn("gws",
        col("raw").cast("array<struct<gtw_id:string,rssi:double,snr:double>>"))
      .select(col("edge"), hof.as("hof"))
    TtnEnvelope.parseBest(spark.createDataset(GatewayEdges.lines).toDF("line"), col("line"))
      .select(col("topic"), substring_index(col("topic"), "/", -1).as("edge"),
        col("best_gateway"), col("best_score"), col("n_gateways"))
      .join(typed, "edge")
  }

  test("native best_gateway == array_max(transform(...)) on all edge rows") {
    // all_null_elements is the one documented divergence — the HOF's
    // transform maps a null element to a non-null struct(null,null) so
    // array_max cannot skip it; it is asserted separately below.
    val df = frame().where(col("edge") =!= "all_null_elements")
    val bad = df.where(!(col("best_gateway") <=> col("hof.gtw_id")) ||
      !(col("best_score") <=> round(col("hof.score"), 2))).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.mkString("; ")}")
    assert(df.count() == 2 * (GatewayEdges.edges.size - 1))
  }

  test("all-null-elements array: native → null, HOF → struct(null,null)") {
    val rows = frame().where(col("edge") === "all_null_elements").collect()
    assert(rows.length == 2) // V2 and V3
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("best_gateway")) && r.isNullAt(r.fieldIndex("best_score")),
        s"native must name no winner for an all-null-element array: $r")
      assert(r.getAs[Int]("n_gateways") == 1)
      val h = r.getStruct(r.fieldIndex("hof"))
      assert(h != null && h.isNullAt(0) && h.isNullAt(1),
        "HOF returns the phantom struct(null,null) — the documented divergence")
    }
  }

  test("winner fields surface correctly through the envelope frame") {
    val got = frame().collect()
      .map(r => r.getAs[String]("topic") ->
        (r.getAs[String]("best_gateway"), r.getAs[java.lang.Double]("best_score"),
          r.getAs[java.lang.Integer]("n_gateways"))).toMap
    assert(got.size == 2 * GatewayEdges.edges.size)
    for (v <- Seq("v2", "v3")) {
      assert(got(s"$v/rssi_wins") == (("b", 40.0, 2)))
      assert(got(s"$v/exact_tie")._1 == "b")       // equal scores: max id
      assert(got(s"$v/null_id_loses_tie")._1 == "b")
      assert(got(s"$v/all_null_scores") == (("b", null, 2))) // id decides
      assert(got(s"$v/null_element") == (("b", 6.0, 2))) // counted, skipped
      assert(got(s"$v/empty") == ((null, null, 0)))
      assert(got(s"$v/null_array") == ((null, null, null)))
      assert(got(s"$v/all_null_elements") == ((null, null, 1)))
    }
  }
}
