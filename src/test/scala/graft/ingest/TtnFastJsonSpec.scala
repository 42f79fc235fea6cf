package graft.ingest

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Differential fuzz of the native single-pass envelope parser
  * ([[TtnFastJson]] via TtnEnvelope.parseBest) against the Jackson
  * `from_json` composition it replaced ([[TtnEnvelope.parseJackson]],
  * whose gateway array is reduced by `size` and the HOF argmax
  * `array_max(transform(gws, g -> struct(score, gtw_id)))`).
  * The generator covers the envelope contract's agreement domain:
  * arbitrary key order, inter-token whitespace, JSON escapes (incl.
  * \uXXXX and surrogate pairs) and literal multi-byte UTF-8, unknown
  * extra fields (scalar/object/array/bool), null and missing branches,
  * empty gateway arrays, null gateway ELEMENTS, duplicate keys (last
  * wins), and malformed lines (truncation, trailing garbage, bare
  * non-object) — both paths must null the row identically. The argmax
  * edges ([[GatewayEdges]]: exact ties, null scores, null ids, null and
  * all-null elements, empty and null arrays) are compared in both
  * envelope versions, under codegen and interpreted eval. */
class TtnFastJsonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(s: String) = "\"" + s + "\""

  /** Random inter-token whitespace. */
  private def w(rnd: Random): String =
    if (rnd.nextInt(4) == 0) " \t\n".take(rnd.nextInt(3) + 1) else ""

  private def jObj(rnd: Random, fields: Seq[(String, String)]): String = {
    val shuffled = rnd.shuffle(fields)
    shuffled.map { case (k, v) => s"${w(rnd)}${q(k)}${w(rnd)}:${w(rnd)}$v" }
      .mkString("{", ",", s"${w(rnd)}}")
  }

  private def strVal(rnd: Random): String = rnd.nextInt(6) match {
    case 0 => q("plain" + rnd.nextInt(1000))
    case 1 => q("esc\\n\\t\\\"x" + rnd.nextInt(100))
    case 2 => q("uni\\u0041\\u00e9" + rnd.nextInt(100))
    case 3 => q("emoji\\ud83d\\ude00" + rnd.nextInt(100)) // surrogate pair
    case 4 => q("mué€" + rnd.nextInt(100))                // literal multi-byte
    case _ => q("s/|\\\\p" + rnd.nextInt(100))
  }

  /** Unknown extra field of arbitrary JSON shape. */
  private def junk(rnd: Random, depth: Int = 0): String = rnd.nextInt(7) match {
    case 0 => strVal(rnd)
    case 1 => rnd.nextInt(100000).toString
    case 2 => s"${rnd.nextInt(100)}.${rnd.nextInt(100)}e${rnd.nextInt(3)}"
    case 3 => "true"
    case 4 => "null"
    case 5 if depth < 2 =>
      jObj(rnd, (0 until rnd.nextInt(3)).map(i => s"jk$i" -> junk(rnd, depth + 1)))
    case _ if depth < 2 =>
      (0 until rnd.nextInt(3)).map(_ => junk(rnd, depth + 1))
        .mkString("[", ",", "]")
    case _ => "false"
  }

  private def gwV2(rnd: Random): String =
    if (rnd.nextInt(8) == 0) "null" // null ELEMENT → struct(null,null,null)
    else {
      val fs = Seq.newBuilder[(String, String)]
      if (rnd.nextInt(8) != 0) fs += "gtw_id" -> strVal(rnd)
      if (rnd.nextInt(8) != 0) fs += "rssi" -> s"-${rnd.nextInt(120)}"
      if (rnd.nextInt(8) != 0) fs += "snr" -> s"${rnd.nextInt(20) - 10}.${rnd.nextInt(10)}"
      if (rnd.nextInt(4) == 0) fs += "channel" -> junk(rnd)
      jObj(rnd, fs.result())
    }

  private def gwV3(rnd: Random): String =
    if (rnd.nextInt(8) == 0) "null"
    else {
      val fs = Seq.newBuilder[(String, String)]
      if (rnd.nextInt(8) != 0)
        fs += "gateway_ids" -> (if (rnd.nextInt(8) == 0) "null"
          else jObj(rnd, Seq("gateway_id" -> strVal(rnd)) ++
            (if (rnd.nextInt(4) == 0) Seq("eui" -> junk(rnd)) else Nil)))
      if (rnd.nextInt(8) != 0) fs += "rssi" -> s"-${rnd.nextInt(120)}"
      if (rnd.nextInt(8) != 0) fs += "snr" -> s"${rnd.nextInt(20) - 10}.${rnd.nextInt(10)}"
      if (rnd.nextInt(4) == 0) fs += "location" -> junk(rnd)
      jObj(rnd, fs.result())
    }

  private def gwArray(rnd: Random, gw: Random => String): String =
    rnd.nextInt(8) match {
      case 0 => "null"
      case 1 => "[]"
      case _ => (0 until rnd.nextInt(4) + 1).map(_ => gw(rnd)).mkString("[", ",", "]")
    }

  private def v2Envelope(rnd: Random): String = {
    val fs = Seq.newBuilder[(String, String)]
    if (rnd.nextInt(8) != 0) fs += "app_id" -> strVal(rnd)
    if (rnd.nextInt(8) != 0) fs += "dev_id" -> strVal(rnd)
    if (rnd.nextInt(8) != 0) fs += "port" -> rnd.nextInt(300).toString
    if (rnd.nextInt(8) != 0) fs += "counter" -> rnd.nextInt(1000000).toString
    if (rnd.nextInt(8) != 0) fs += "payload_raw" ->
      q(java.util.Base64.getEncoder.encodeToString(
        s"pl${rnd.nextInt(1000)}".getBytes("UTF-8")))
    if (rnd.nextInt(4) != 0) fs += "metadata" -> (if (rnd.nextInt(8) == 0) "null"
      else jObj(rnd, Seq(
        "time" -> q(f"2024-01-${rnd.nextInt(28) + 1}%02dT12:00:00Z"),
        "gateways" -> gwArray(rnd, gwV2)) ++
        (if (rnd.nextInt(3) == 0) Seq("frequency" -> junk(rnd)) else Nil)))
    if (rnd.nextInt(4) == 0) fs += "downlink_url" -> junk(rnd)
    // duplicate scalar key: last occurrence wins in both engines
    val base = fs.result()
    val withDup = if (rnd.nextInt(6) == 0 && base.exists(_._1 == "app_id"))
      base :+ ("app_id" -> strVal(rnd)) else base
    // duplicate OBJECT-typed key (ADVICE r7): Jackson converts each
    // occurrence wholesale and the last wins — an earlier metadata's
    // time/gateways must not survive a later '"metadata": null' or a
    // later object that omits them
    val withObjDup = if (rnd.nextInt(5) == 0 && withDup.exists(_._1 == "metadata"))
      withDup :+ ("metadata" -> (rnd.nextInt(4) match {
        case 0 => "null"
        // SCALAR at an object-schema key (ADVICE r8): dup or not, the
        // differential test adjudicates what Jackson does with it
        case 1 => rnd.nextInt(100).toString
        case _ => jObj(rnd, Seq("time" -> q("2024-06-01T00:00:00Z")))
      }))
      else withDup
    jObj(rnd, withObjDup) // NB jObj shuffles; dup order then varies — see filter below
  }

  private def v3Envelope(rnd: Random): String = {
    val fs = Seq.newBuilder[(String, String)]
    if (rnd.nextInt(8) != 0) fs += "end_device_ids" ->
      (if (rnd.nextInt(8) == 0) "null"
       else jObj(rnd, Seq.newBuilder[(String, String)]
         .++= (if (rnd.nextInt(8) != 0) Seq("device_id" -> strVal(rnd)) else Nil)
         .++= (if (rnd.nextInt(8) != 0) Seq("application_ids" ->
           (if (rnd.nextInt(8) == 0) "null"
            else jObj(rnd, Seq("application_id" -> strVal(rnd))))) else Nil)
         .result()))
    if (rnd.nextInt(8) != 0) fs += "received_at" ->
      q(f"2024-02-${rnd.nextInt(28) + 1}%02dT08:30:00Z")
    if (rnd.nextInt(4) != 0) fs += "uplink_message" ->
      (if (rnd.nextInt(8) == 0) "null"
       else jObj(rnd, Seq.newBuilder[(String, String)]
         .++= (if (rnd.nextInt(8) != 0) Seq("f_port" -> rnd.nextInt(300).toString) else Nil)
         .++= (if (rnd.nextInt(8) != 0) Seq("f_cnt" -> rnd.nextInt(1000000).toString) else Nil)
         .++= (if (rnd.nextInt(8) != 0) Seq("frm_payload" ->
           q(java.util.Base64.getEncoder.encodeToString(
             s"fp${rnd.nextInt(1000)}".getBytes("UTF-8")))) else Nil)
         .++= (if (rnd.nextInt(8) != 0) Seq("rx_metadata" -> gwArray(rnd, gwV3)) else Nil)
         .++= (if (rnd.nextInt(3) == 0) Seq("settings" -> junk(rnd)) else Nil)
         .result()))
    if (rnd.nextInt(4) == 0) fs += "correlation_ids" -> junk(rnd)
    // duplicate OBJECT-typed keys (ADVICE r7): last occurrence wins
    // wholesale — subfields of an earlier uplink_message/end_device_ids
    // must not leak past a later null or a later sparser object
    val base = fs.result()
    val d1 = if (rnd.nextInt(5) == 0 && base.exists(_._1 == "uplink_message"))
      base :+ ("uplink_message" -> (rnd.nextInt(4) match {
        case 0 => "null"
        case 1 => strVal(rnd) // scalar at an object-schema key (ADVICE r8)
        case _ => jObj(rnd, Seq("f_port" -> rnd.nextInt(300).toString))
      }))
      else base
    val d2 = if (rnd.nextInt(5) == 0 && d1.exists(_._1 == "end_device_ids"))
      d1 :+ ("end_device_ids" -> (rnd.nextInt(4) match {
        case 0 => "null"
        case 1 => "true" // scalar at an object-schema key (ADVICE r8)
        case _ => jObj(rnd, Seq("application_ids" ->
          jObj(rnd, Seq("application_id" -> strVal(rnd)))))
      }))
      else d1
    jObj(rnd, d2)
  }

  private def malformed(rnd: Random): String = rnd.nextInt(12) match {
    case 0 => """{"app_id":"x""""                 // truncated
    case 1 => """{"app_id":"x"} trailing"""       // trailing garbage
    case 2 => """[1,2,3]"""                       // non-object top level
    case 3 => """{"port":}"""                     // missing value
    // ADVICE r7 strictness shapes — each must null the row in BOTH
    // engines (the differential test adjudicates):
    case 4 => s"""{"port": +${rnd.nextInt(9) + 1}}"""      // leading '+'
    case 5 => """{"metadata":{"gateways":[{"rssi": +1.5}]}}"""
    case 6 => // raw (unescaped) control byte inside a string
      "{\"app_id\":\"a" + 1.toChar + "b\"}"
    case 7 => """{"port": 007}"""                 // leading zeros
    case 8 => s"""{"counter": ${rnd.nextInt(100)}.5}"""    // float in integral
    case 9 => """{"port": 2147483648}"""          // out of Int range
    case 10 => """{"counter": 99999999999999999999}"""     // Long overflow
    case _ => """not json at all"""
  }

  private def lines(seed: Long, nPerKind: Int): Seq[String] = {
    val rnd = new Random(seed)
    val all = (0 until nPerKind).flatMap { i =>
      Seq(
        s"devices/v2_$i ${v2Envelope(rnd)}",
        s"devices/v3_$i ${v3Envelope(rnd)}",
        // mixed: both version branches present — per-field coalesce order
        s"devices/mx_$i ${jObj(rnd, Seq(
          "app_id" -> q("v2app"), "port" -> "7",
          "received_at" -> q("2024-03-01T00:00:00Z"),
          "uplink_message" -> jObj(rnd, Seq("f_cnt" -> "42"))))}",
        s"devices/bad_$i ${malformed(rnd)}")
    }
    // jObj shuffles fields, so a duplicated key's occurrence ORDER is
    // random; both engines are last-wins over the SAME line so the
    // comparison is still exact — no filtering needed.
    all
  }

  /** [[TtnEnvelope.parseJackson]] reduced to [[TtnEnvelope.parseBest]]'s
    * frame: `n_gateways` is the null-safe `size` of the gateway array
    * (null, not -1, for a null array), in parseBest's column order. */
  private def reference(df: DataFrame, cols: Seq[String]): DataFrame =
    TtnEnvelope.parseJackson(df, col("line"))
      .withColumn("n_gateways",
        when(col("gateways").isNull, lit(null)).otherwise(size(col("gateways"))))
      .select(cols.map(col): _*)

  /** Every line's parseBest row equals its reference row, joined on the
    * (unique) topic and compared null-safely column by column. */
  private def assertParity(df: DataFrame): Unit = {
    val nat = TtnEnvelope.parseBest(df, col("line"))
    val cols = nat.columns.toSeq
    val jak = reference(df, cols)
    val j = nat.as("n").join(jak.as("j"), col("n.topic") === col("j.topic"))
    val mismatchCond = cols.filter(_ != "topic")
      .map(c => !(col(s"n.$c") <=> col(s"j.$c"))).reduce(_ || _)
    val bad = j.where(mismatchCond)
      .select(col("n.topic"), struct(cols.map(c => col(s"n.$c")): _*).as("native"),
        struct(cols.map(c => col(s"j.$c")): _*).as("jackson"))
      .take(5)
    assert(bad.isEmpty, s"native vs jackson divergence:\n${bad.mkString("\n")}")
    assert(j.count() == df.count(), "row loss in one of the parse paths")
  }

  /** Interpreted expression eval: wholeStage=false alone still runs
    * codegen'd projections, NO_CODEGEN forces the interpreted path. */
  private def interpreted[T](body: => T): T =
    graft.Session.withConfs(spark, Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))(body)

  private def fuzzCorpus(seed: Long): DataFrame = {
    import spark.implicits._
    spark.createDataset(lines(seed, nPerKind = 400)).toDF("line").repartition(8)
  }

  private def edgeFrame: DataFrame = {
    import spark.implicits._
    spark.createDataset(GatewayEdges.lines).toDF("line")
  }

  test("native parse == Jackson parse over the fuzz corpus") {
    assertParity(fuzzCorpus(20260814L))
  }

  test("q76 fixture lines: native == Jackson exactly") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val fx = graft.SparkEntry.ttnFixtureLines(ev).cache()
    assertParity(fx)
    fx.unpersist()
  }

  test("fused parseBest == unfused parse + size + best_gateway composition") {
    // the reference is the unfused composition the fused parse replaced:
    // from_json, then size() and the HOF best_gateway argmax + round
    assertParity(fuzzCorpus(20260815L))
  }

  test("gateway argmax edges, V2 and V3 envelopes: native == Jackson") {
    // the winners themselves are asserted in GatewayExpressionsSpec
    assertParity(edgeFrame)
  }

  test("interpreted eval: native == Jackson on edges and fuzz corpus") {
    interpreted {
      assertParity(edgeFrame)
      assertParity(fuzzCorpus(20260814L))
    }
  }

  test("malformed lines null the whole envelope frame") {
    import spark.implicits._
    val df = spark.createDataset(Seq(
      "t/1 {\"app_id\":\"x\"", "t/2 [1]", "t/3 zzz")).toDF("line")
    val out = TtnEnvelope.parseBest(df, col("line")).collect()
    assert(out.length == 3)
    out.foreach { r =>
      (1 until r.length).foreach(i => assert(r.isNullAt(i), s"field $i of $r"))
    }
    // trailing garbage past the first complete object is IGNORED — the
    // measured from_json contract, matched by the native parser
    val t = spark.createDataset(Seq("t/4 {\"app_id\":\"x\"} extra")).toDF("line")
    val r = TtnEnvelope.parseBest(t, col("line")).select(col("app_id")).collect().head
    assert(r.getString(0) == "x")
  }
}
